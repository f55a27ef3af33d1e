package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Android DEX metadata, from scratch — the mobile sibling of
  * [[ClassFile]] on the jar-mining shelf: APK corpora are DEX files,
  * and their class inventory (names, superclasses, source files) is
  * the dedup/provenance surface.
  *
  * Implemented per the published Dalvik executable format (the AOSP
  * dex-format documentation):
  *
  *  - '''header''': the `dex\n0NN\0` magic (versions 035-040), the
  *    endian tag, and BOTH integrity fields VERIFIED, not echoed —
  *    the adler32 checksum over everything after it (the shared
  *    [[Bits.adler32]]) and the 20-byte SHA-1
  *    signature over everything after itself (the shared from-scratch
  *    [[Git.sha1]]); header_size and file_size cross-checked;
  *  - '''string_ids''': u32 offsets into string_data items — a
  *    uleb128 UTF-16 code-unit count + MUTF-8 bytes + NUL, decoded
  *    with [[ClassFile]]'s modified-UTF-8 rules (dex shares them) and
  *    the declared code-unit count RE-VERIFIED against the decode;
  *  - '''type_ids''': descriptor-index indirection into the string
  *    pool, bounds-checked;
  *  - '''class_defs''': 32-byte records — class/superclass through the
  *    type→string double indirection, source files, access flags; the
  *    NO_INDEX sentinel (0xFFFFFFFF) handled.
  *
  * A wrong checksum or signature, an index past its pool, a string
  * whose decoded length disagrees with its declared code-unit count —
  * each quarantines the file whole.
  *
  * Scale shape: map-only per dex, zero shuffles.
  */
object Dex {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"dex:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def versionOf(id: Long): String = if (id % 2 == 0) "035" else "039"
  private[ext] def nClassesOf(id: Long): Int = 1 + nib(id, 1) % 2
  private[ext] def classNameOf(id: Long, c: Int): String = {
    val w = words(nib(id, 2 + c) % 8)
    s"Lgraft/fx/${w.head.toUpper}${w.tail}$id$c;"
  }
  private[ext] def sourceOf(id: Long, c: Int): String = s"Fixture$id$c.java"
  private[ext] def flagsOf(id: Long, c: Int): Long = if ((id + c) % 2 == 0) 0x1L else 0x11L

  private[ext] def renderDex(id: Long): Array[Byte] = {
    val nc = nClassesOf(id)
    // string pool, sorted (dex requires sorted string_ids): descriptors,
    // source files, the Object descriptor
    val strings = ((0 until nc).map(classNameOf(id, _)) ++
      (0 until nc).map(sourceOf(id, _)) :+ "Ljava/lang/Object;").sorted
    val strIdx = strings.zipWithIndex.toMap
    // type pool, sorted by descriptor string index: Object + our classes
    val typeDescs = ((0 until nc).map(classNameOf(id, _)) :+ "Ljava/lang/Object;")
      .sortBy(strIdx)
    val typeIdx = typeDescs.zipWithIndex.toMap

    // layout: header (0x70) | string_ids | type_ids | class_defs | data
    val headerSize = 0x70
    val stringIdsOff = headerSize
    val typeIdsOff = stringIdsOff + 4 * strings.length
    val classDefsOff = typeIdsOff + 4 * typeDescs.length
    val dataOff = classDefsOff + 32 * nc
    val data = new java.io.ByteArrayOutputStream()
    val strOffsets = strings.map { s =>
      val o = dataOff + data.size
      Bits.writeUvarint(data, s.length) // UTF-16 code units (ASCII fixture: = length)
      val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      data.write(b, 0, b.length)
      data.write(0)
      o
    }
    val body = new java.io.ByteArrayOutputStream()
    def w32(o: java.io.ByteArrayOutputStream, v: Long): Unit = {
      var i = 0; while (i < 4) { o.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 }
    }
    strOffsets.foreach(o => w32(body, o.toLong))
    typeDescs.foreach(t => w32(body, strIdx(t).toLong))
    (0 until nc).foreach { c =>
      w32(body, typeIdx(classNameOf(id, c)).toLong) // class_idx
      w32(body, flagsOf(id, c)) // access_flags
      w32(body, typeIdx("Ljava/lang/Object;").toLong) // superclass_idx
      w32(body, 0L) // interfaces_off
      w32(body, strIdx(sourceOf(id, c)).toLong) // source_file_idx
      w32(body, 0L); w32(body, 0L); w32(body, 0L) // annotations/class_data/static
    }
    val db = data.toByteArray
    body.write(db, 0, db.length)
    val payload = body.toByteArray
    val fileSize = headerSize + payload.length

    // header AFTER the signature fields, so integrity can be computed
    val tail = new java.io.ByteArrayOutputStream()
    w32(tail, fileSize.toLong)
    w32(tail, headerSize.toLong)
    w32(tail, 0x12345678L) // endian tag
    w32(tail, 0L); w32(tail, 0L) // link
    w32(tail, 0L) // map_off (0: we carry no map; readers must tolerate)
    w32(tail, strings.length.toLong); w32(tail, stringIdsOff.toLong)
    w32(tail, typeDescs.length.toLong); w32(tail, typeIdsOff.toLong)
    w32(tail, 0L); w32(tail, 0L) // proto_ids
    w32(tail, 0L); w32(tail, 0L) // field_ids
    w32(tail, 0L); w32(tail, 0L) // method_ids
    w32(tail, nc.toLong); w32(tail, classDefsOff.toLong)
    w32(tail, db.length.toLong); w32(tail, dataOff.toLong)
    val afterSig = tail.toByteArray ++ payload
    val sig = Git.sha1(afterSig)
    val afterChecksum = sig ++ afterSig
    val adler = Bits.adler32(afterChecksum, 0, afterChecksum.length)

    val out = new java.io.ByteArrayOutputStream()
    out.write(s"dex\n${versionOf(id)}".getBytes("ISO-8859-1"), 0, 7)
    out.write(0)
    w32(out, adler.toLong & 0xffffffffL)
    out.write(sig, 0, sig.length)
    out.write(afterSig, 0, afterSig.length)
    out.toByteArray
  }

  /** Fixture writer: one .dex per document row. */
  def encodeDex(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "dex")(renderDex)

  // --------------------------------------------------------------- reader

  private final class MalformedDex
      extends RuntimeException("malformed dex", null, false, false)
  private def fail(): Nothing = throw new MalformedDex

  private val NoIndex = 0xffffffffL

  final case class DexClass(
    doc_id: Long, dex_version: String, n_strings: Long, n_types: Long,
    n_classes: Long, class_idx: Long, class_name: String, superclass: String,
    source_file: String, access_flags: Long)

  private[ext] def parseDex(id: Long, b: Array[Byte]): Seq[DexClass] = {
    if (b == null || b.length < 0x70) fail()
    if (b(0) != 'd' || b(1) != 'e' || b(2) != 'x' || b(3) != '\n' || b(7) != 0) fail()
    val version = new String(b, 4, 3, "ISO-8859-1")
    if (!version.forall(_.isDigit) || version < "035" || version > "041") fail()
    def u32(p: Int): Long = {
      if (p < 0 || p + 4 > b.length) fail()
      (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) | ((b(p + 2) & 0xffL) << 16) |
        ((b(p + 3) & 0xffL) << 24)
    }
    // integrity: VERIFY, never echo
    val declaredAdler = u32(8)
    val adler = Bits.adler32(b, 12, b.length).toLong & 0xffffffffL
    if (adler != declaredAdler) fail()
    val sig = Git.sha1(java.util.Arrays.copyOfRange(b, 32, b.length))
    var i = 0
    while (i < 20) { if (sig(i) != b(12 + i)) fail(); i += 1 }
    val fileSize = u32(32)
    if (fileSize != b.length.toLong) fail()
    if (u32(36) != 0x70L) fail() // header_size
    if (u32(40) != 0x12345678L) fail() // little-endian tag only
    val nStrings = u32(56)
    val stringIdsOff = u32(60)
    val nTypes = u32(64)
    val typeIdsOff = u32(68)
    val nClasses = u32(96)
    val classDefsOff = u32(100)
    if (nStrings > (1 << 20) || nTypes > (1 << 20) || nClasses > (1 << 20)) fail()
    if (stringIdsOff + 4 * nStrings > b.length) fail()
    if (typeIdsOff + 4 * nTypes > b.length) fail()
    if (classDefsOff + 32 * nClasses > b.length) fail()

    def stringAt(idx: Long): String = {
      if (idx < 0 || idx >= nStrings) fail()
      val off = u32((stringIdsOff + 4 * idx).toInt)
      val r = new Bits.Cursor(b, off.toInt, b.length) { def fail(): Nothing = Dex.fail() }
      if (r.pos < 0) fail()
      val units = r.uvarint(5).toInt // uleb128 code-unit count, low 32 bits
      var p = r.pos
      val start = p
      while (p < b.length && b(p) != 0) p += 1
      if (p >= b.length) fail()
      val s = ClassFile.modifiedUtf8(b, start, p - start) // dex shares JVMS MUTF-8
      if (s.length != units) fail() // the declared count must match the decode
      s
    }
    def typeDesc(idx: Long): String = {
      if (idx < 0 || idx >= nTypes) fail()
      stringAt(u32((typeIdsOff + 4 * idx).toInt))
    }
    (0L until nClasses).map { c =>
      val p = (classDefsOff + 32 * c).toInt
      val classIdx = u32(p)
      val flags = u32(p + 4)
      val superIdx = u32(p + 8)
      val srcIdx = u32(p + 16)
      DexClass(id, version, nStrings, nTypes, nClasses, c,
        typeDesc(classIdx),
        if (superIdx == NoIndex) "" else typeDesc(superIdx),
        if (srcIdx == NoIndex) "" else stringAt(srcIdx),
        flags)
    }
  }

  private[ext] def parseDexSafe(id: Long, b: Array[Byte]): Seq[DexClass] =
    try parseDex(id, b)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `dex_classes`: the APK class inventory. Map-only. */
  def dexClasses(docs: DataFrame, idCol: String = "doc_id",
                 binCol: String = "dex"): Dataset[DexClass] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseDexSafe(id, b) }
  }
}

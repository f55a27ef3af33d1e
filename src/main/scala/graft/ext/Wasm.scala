package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** WebAssembly binary-module metadata, from scratch — crawled web
  * corpora carry .wasm alongside JS, and triage (import/export
  * surface, function counts, memory limits) is the standard filter
  * before any of it is kept or executed.
  *
  * Implemented per the published WebAssembly core specification
  * (binary format chapter), version 1:
  *
  *  - `\\0asm` magic + LE version, sections as id + LEB128-u32 size,
  *    with the spec's ordering rule enforced: non-custom section ids
  *    strictly ascending, custom (id 0) sections allowed anywhere;
  *  - '''type section''': `0x60` function types with param/result
  *    value-type vectors (numeric/vector/ref type bytes validated);
  *  - '''import section''': module/name UTF-8 strings + import kind
  *    (func typeidx, table, memory, global) — func imports count into
  *    the function index space, exactly as the spec numbers it;
  *  - '''function/code sections''': declared count must equal body
  *    count; every body's size consumed exactly, locals declarations
  *    walked, the final byte required to be `end` (0x0B);
  *  - '''memory/export sections''': limits (min + optional max, max
  *    >= min enforced), export names with kind/index — indexes
  *    bounds-checked against their index spaces.
  *
  * Every section size must land exactly where the next section begins;
  * damage anywhere quarantines the module whole.
  *
  * Scale shape: map-only per module, zero shuffles.
  */
object Wasm {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private val words = Array("anchor", "bloom", "cedar", "dune", "ember", "flint", "grove", "harbor")

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"wasm:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] def nFuncsOf(id: Long): Int = 1 + nib(id, 1) % 3
  private[ext] def hasImportOf(id: Long): Boolean = id % 2 == 0
  private[ext] def memPagesOf(id: Long): Long = 1L + nib(id, 3) % 4
  private[ext] def memMaxOf(id: Long): Option[Long] =
    if (nib(id, 4) % 2 == 0) Some(memPagesOf(id) + 16) else None
  private[ext] def exportNameOf(id: Long, j: Int): String =
    s"${words(nib(id, 5 + j) % 8)}_$j"

  private def section(out: java.io.ByteArrayOutputStream, sid: Int,
      body: Array[Byte]): Unit = {
    out.write(sid)
    Bits.writeUvarint(out, body.length.toLong)
    out.write(body, 0, body.length)
  }
  private def bytes(build: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream(); build(o); o.toByteArray
  }
  private def name(out: java.io.ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    Bits.writeUvarint(out, b.length.toLong)
    out.write(b, 0, b.length)
  }

  private[ext] def renderWasm(id: Long): Array[Byte] = {
    val nf = nFuncsOf(id)
    val out = new java.io.ByteArrayOutputStream()
    out.write(0); out.write('a'); out.write('s'); out.write('m')
    out.write(1); out.write(0); out.write(0); out.write(0)
    // type section: () -> () and (i32) -> (i32)
    section(out, 1, bytes { o =>
      Bits.writeUvarint(o, 2)
      o.write(0x60); Bits.writeUvarint(o, 0); Bits.writeUvarint(o, 0)
      o.write(0x60); Bits.writeUvarint(o, 1); o.write(0x7f); Bits.writeUvarint(o, 1); o.write(0x7f)
    })
    // import section (half the corpus): env.log as a func of type 0
    if (hasImportOf(id)) section(out, 2, bytes { o =>
      Bits.writeUvarint(o, 1)
      name(o, "env"); name(o, "log")
      o.write(0x00); Bits.writeUvarint(o, 0)
    })
    // function section: nf local functions, alternating type indexes
    section(out, 3, bytes { o =>
      Bits.writeUvarint(o, nf.toLong)
      (0 until nf).foreach(j => Bits.writeUvarint(o, (j % 2).toLong))
    })
    // memory section
    section(out, 5, bytes { o =>
      Bits.writeUvarint(o, 1)
      memMaxOf(id) match {
        case Some(mx) => o.write(0x01); Bits.writeUvarint(o, memPagesOf(id)); Bits.writeUvarint(o, mx)
        case None => o.write(0x00); Bits.writeUvarint(o, memPagesOf(id))
      }
    })
    // export section: every local func + the memory
    section(out, 7, bytes { o =>
      Bits.writeUvarint(o, (nf + 1).toLong)
      val base = if (hasImportOf(id)) 1 else 0
      (0 until nf).foreach { j =>
        name(o, exportNameOf(id, j))
        o.write(0x00); Bits.writeUvarint(o, (base + j).toLong)
      }
      name(o, "memory"); o.write(0x02); Bits.writeUvarint(o, 0)
    })
    // code section: type-0 bodies end immediately; type-1 bodies return
    // local 0 (local.get 0; end) — real, validator-clean bytecode
    section(out, 10, bytes { o =>
      Bits.writeUvarint(o, nf.toLong)
      (0 until nf).foreach { j =>
        val body = bytes { c =>
          if (j % 2 == 0) { Bits.writeUvarint(c, 0); c.write(0x0b) }
          else { Bits.writeUvarint(c, 0); c.write(0x20); Bits.writeUvarint(c, 0); c.write(0x0b) }
        }
        Bits.writeUvarint(o, body.length.toLong)
        o.write(body, 0, body.length)
      }
    })
    out.toByteArray
  }

  /** Fixture writer: one .wasm per document row. */
  def encodeWasm(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "wasm")(renderWasm)

  // --------------------------------------------------------------- reader

  private final class MalformedWasm
      extends RuntimeException("malformed wasm", null, false, false)
  private def fail(): Nothing = throw new MalformedWasm

  final case class WasmMeta(
    doc_id: Long, n_sections: Long, n_types: Long, n_imports: Long,
    n_funcs: Long, n_exports: Long, exports: String,
    mem_min: Long, mem_max: Long, code_bytes: Long)

  private[ext] def parseWasm(id: Long, b: Array[Byte]): WasmMeta = {
    if (b == null || b.length < 8) fail()
    if (b(0) != 0 || b(1) != 'a' || b(2) != 's' || b(3) != 'm') fail()
    if (b(4) != 1 || b(5) != 0 || b(6) != 0 || b(7) != 0) fail()
    val r = new Bits.Cursor(b, 8, b.length) { def fail(): Nothing = Wasm.fail() }
    def u8(): Int = r.u8()
    def leb(): Long = {
      val v = r.uvarint(5) // LEB128-u32: at most 5 bytes
      if (v > 0xffffffffL) fail()
      v
    }
    def nameStr(limit: Int): String = {
      val n = leb()
      if (n > limit - r.pos) fail()
      val s = new String(b, r.pos, n.toInt, java.nio.charset.StandardCharsets.UTF_8)
      r.pos += n.toInt
      s
    }
    def valType(): Unit = u8() match {
      case 0x7f | 0x7e | 0x7d | 0x7c | 0x7b | 0x70 | 0x6f => ()
      case _ => fail()
    }
    // the spec's REQUIRED order is not numeric: DataCount (12) sits
    // between element (9) and code (10) — rank by position, not id
    def rank(sid: Int): Int = sid match {
      case 12 => 10
      case 10 => 11
      case 11 => 12
      case other => other
    }
    var lastRank = 0
    var nSections = 0L
    var nTypes = 0L
    var nImports = 0L
    var importedFuncs = 0L
    var declaredFuncs = 0L
    var nExports = 0L
    var codeBodies = -1L
    var codeBytes = 0L
    var memMin = -1L
    var memMax = -1L
    var nTables = 0L
    var nMems = 0L
    var nGlobals = 0L
    val exports = Vector.newBuilder[String]
    while (r.pos < b.length) {
      val sid = u8()
      val size = leb()
      if (size > b.length - r.pos) fail()
      val end = r.pos + size.toInt
      nSections += 1
      if (sid != 0) {
        if (sid > 12 || rank(sid) <= lastRank) fail() // ordering rule
        lastRank = rank(sid)
      }
      sid match {
        case 0 => // custom: name + opaque payload
          nameStr(end)
          r.pos = end
        case 1 =>
          nTypes = leb()
          if (nTypes > 4096) fail()
          for (_ <- 0L until nTypes) {
            if (u8() != 0x60) fail()
            val np = leb()
            if (np > 64) fail()
            for (_ <- 0L until np) valType()
            val nr = leb()
            if (nr > 64) fail()
            for (_ <- 0L until nr) valType()
          }
        case 2 =>
          nImports = leb()
          if (nImports > 4096) fail()
          for (_ <- 0L until nImports) {
            nameStr(end); nameStr(end)
            u8() match {
              case 0x00 => // func
                if (leb() >= nTypes) fail()
                importedFuncs += 1
              case 0x01 => // table: reftype + limits
                valType()
                val f = u8()
                leb()
                if (f == 1) leb() else if (f != 0) fail()
                nTables += 1
              case 0x02 => // memory limits
                val f = u8()
                leb()
                if (f == 1) leb() else if (f != 0) fail()
                nMems += 1
              case 0x03 => // global: valtype + mutability
                valType()
                if (u8() > 1) fail()
                nGlobals += 1
              case _ => fail()
            }
          }
        case 3 =>
          declaredFuncs = leb()
          if (declaredFuncs > 4096) fail()
          for (_ <- 0L until declaredFuncs) if (leb() >= nTypes) fail()
        case 4 => // table section: only the count matters for index spaces
          val n = leb()
          if (n > 4096) fail()
          nTables += n
          r.pos = end
        case 5 =>
          val n = leb()
          if (n > 1) fail() // MVP: at most one memory
          nMems += n
          if (n == 1) {
            val f = u8()
            memMin = leb()
            if (f == 1) {
              memMax = leb()
              if (memMax < memMin) fail()
            } else if (f != 0) fail()
          }
        case 6 => // global section: count for the index space, skip bodies
          val n = leb()
          if (n > 4096) fail()
          nGlobals += n
          r.pos = end
        case 7 =>
          nExports = leb()
          if (nExports > 4096) fail()
          for (_ <- 0L until nExports) {
            val nm = nameStr(end)
            u8() match {
              case 0x00 =>
                if (leb() >= importedFuncs + declaredFuncs) fail()
                exports += nm
              case 0x01 => if (leb() >= nTables) fail()
              case 0x02 => if (leb() >= nMems) fail()
              case 0x03 => if (leb() >= nGlobals) fail()
              case _ => fail()
            }
          }
        case 10 =>
          codeBodies = leb()
          if (codeBodies != declaredFuncs) fail() // counts must agree
          for (_ <- 0L until codeBodies) {
            val bodySize = leb()
            if (bodySize > end - r.pos) fail()
            val bodyEnd = r.pos + bodySize.toInt
            codeBytes += bodySize
            val nLocals = leb()
            if (nLocals > 64) fail()
            for (_ <- 0L until nLocals) { leb(); valType() }
            if (bodyEnd <= r.pos || (b(bodyEnd - 1) & 0xff) != 0x0b) fail() // must end with end
            r.pos = bodyEnd
          }
        case 8 | 9 | 11 | 12 =>
          r.pos = end // valid ids we inventory but do not dissect
        case _ => fail()
      }
      if (r.pos != end) fail() // each section size must be consumed exactly
    }
    if (declaredFuncs > 0 && codeBodies < 0) fail() // functions without code
    WasmMeta(id, nSections, nTypes, nImports, importedFuncs + declaredFuncs,
      nExports, exports.result().mkString(","), memMin, memMax, codeBytes)
  }

  private[ext] def parseWasmSafe(id: Long, b: Array[Byte]): Option[WasmMeta] =
    try Some(parseWasm(id, b))
    catch { case scala.util.control.NonFatal(_) => None }

  /** `wasm_meta`: module triage metadata. Map-only. */
  def wasmMeta(docs: DataFrame, idCol: String = "doc_id",
               binCol: String = "wasm"): Dataset[WasmMeta] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) None else parseWasmSafe(id, b) }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Python pickle scanning, from scratch — the safety pass an ML-data
  * engine runs before anything touches a checkpoint: pickles execute
  * arbitrary constructors on load, so corpora of .pkl / torch .bin
  * files are inventoried STATICALLY — the GLOBAL references (which
  * `module.name` constructors a load would invoke) are exactly the
  * attack-surface listing, next to size/opcode statistics.
  *
  * Implemented per the published pickle protocol (the stdlib's
  * `pickletools` opcode documentation), protocols 2 and 4:
  *
  *  - a '''shallow abstract interpreter''' over a strict opcode subset
  *    (PROTO, FRAME, the container/membership ops, BINPUT/MEMOIZE,
  *    BINUNICODE/SHORT_BINUNICODE, BININT/1/2 + LONG1, BINFLOAT,
  *    NONE/NEWTRUE/NEWFALSE, GLOBAL + STACK_GLOBAL, REDUCE/NEWOBJ,
  *    TUPLE/1/2/3, SETITEM(S)/APPENDS, STOP) — enough to track string
  *    pushes so STACK_GLOBAL's module/name resolve exactly as the VM
  *    would resolve them, with stack underflow, a missing MARK,
  *    trailing bytes, or any opcode OUTSIDE the subset quarantining
  *    (an unscannable pickle is precisely the one to flag);
  *  - REDUCE requires a GLOBAL callee on the stack — the scanner
  *    refuses to bless a call it cannot attribute.
  *
  * Both protocol arms are closed-form graded (protocol 4 adds FRAME,
  * MEMOIZE and STACK_GLOBAL; protocol 2 the newline-terminated GLOBAL
  * form and BINPUT).
  *
  * Scale shape: map-only per pickle, zero shuffles.
  */
object Pickle {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  private def nib(id: Long, i: Int): Int = {
    val m = md5Hex(s"pkl:$id")
    Integer.parseInt(m.substring(i - 1, i), 16)
  }

  // ------------------------------------------------------------- fixture

  private[ext] val GlobalTable = Seq(
    ("numpy.core.multiarray", "_reconstruct"),
    ("torch._utils", "_rebuild_tensor_v2"),
    ("collections", "OrderedDict"))

  private[ext] def protocolOf(id: Long): Int = if (id % 2 == 0) 2 else 4
  private[ext] def nGlobalsOf(id: Long): Int = 1 + nib(id, 4) % 2
  private[ext] def globalOf(id: Long, g: Int): (String, String) =
    GlobalTable(nib(id, 7 + g) % 3)
  private[ext] def countValOf(id: Long): Int = nib(id, 5) * 3 + (id % 11).toInt
  private[ext] def seedValOf(id: Long): Int = 1000 + nib(id, 6)
  private[ext] def flagOf(id: Long): Boolean = nib(id, 8) % 2 == 1

  private def utf8(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private[ext] def renderPickle(id: Long): Array[Byte] = {
    val proto = protocolOf(id)
    val ng = nGlobalsOf(id)
    val body = new java.io.ByteArrayOutputStream()
    def str(s: String): Unit =
      if (proto == 4) {
        val b = utf8(s)
        body.write(0x8c); body.write(b.length) // SHORT_BINUNICODE
        body.write(b, 0, b.length)
      } else {
        val b = utf8(s)
        body.write('X') // BINUNICODE
        var i = 0
        while (i < 4) { body.write((b.length >>> (8 * i)) & 0xff); i += 1 }
        body.write(b, 0, b.length)
      }
    body.write('}') // EMPTY_DICT
    if (proto == 4) body.write(0x94) // MEMOIZE
    else { body.write('q'); body.write(0) } // BINPUT 0
    body.write('(') // MARK
    str("name"); str(s"doc$id")
    str("count")
    body.write('J') // BININT, 4 LE signed
    val cv = countValOf(id)
    var i = 0
    while (i < 4) { body.write((cv >>> (8 * i)) & 0xff); i += 1 }
    str("flag")
    body.write(if (flagOf(id)) 0x88 else 0x89) // NEWTRUE / NEWFALSE
    str("seed")
    body.write(0x8a) // LONG1
    val sv = seedValOf(id) // < 2^15: two little-endian bytes
    body.write(2); body.write(sv & 0xff); body.write((sv >> 8) & 0xff)
    body.write('u') // SETITEMS
    for (g <- 0 until ng) {
      str(s"w$g")
      val (mod, name) = globalOf(id, g)
      if (proto == 4) { str(mod); str(name); body.write(0x93) } // STACK_GLOBAL
      else {
        body.write('c') // GLOBAL: two newline-terminated lines
        body.write(utf8(mod), 0, mod.length); body.write('\n')
        body.write(utf8(name), 0, name.length); body.write('\n')
      }
      body.write(')') // EMPTY_TUPLE
      body.write('R') // REDUCE
      body.write('s') // SETITEM
    }
    body.write('.') // STOP
    val out = new java.io.ByteArrayOutputStream()
    out.write(0x80); out.write(proto)
    if (proto == 4) {
      out.write(0x95) // FRAME
      val len = body.size.toLong
      var k = 0
      while (k < 8) { out.write(((len >>> (8 * k)) & 0xff).toInt); k += 1 }
    }
    val bb = body.toByteArray
    out.write(bb, 0, bb.length)
    out.toByteArray
  }

  /** Fixture writer: one pickle per document row. */
  def encodePickles(docs: DataFrame, idCol: String = "doc_id"): DataFrame =
    Stage.render(docs, idCol, "pkl")(renderPickle)

  // --------------------------------------------------------------- reader

  private final class MalformedPickle
      extends RuntimeException("malformed pickle", null, false, false)
  private def fail(): Nothing = throw new MalformedPickle

  final case class PickleScan(
    doc_id: Long, protocol: Long, n_opcodes: Long, n_globals: Long,
    globals: String, n_reduce: Long, str_bytes: Long, int_sum: Long)

  private sealed trait SV
  private final case class SStr(v: String) extends SV
  private final case class SGlobal(ref: String) extends SV
  private case object SMark extends SV
  private case object SOther extends SV

  private[ext] def scanPickle(id: Long, b: Array[Byte]): PickleScan = {
    if (b == null || b.length < 3) fail()
    var p = 0
    def u8(): Int = { if (p >= b.length) fail(); val v = b(p) & 0xff; p += 1; v }
    def leN(n: Int): Long = {
      if (p + n > b.length) fail()
      var v = 0L
      var i = n - 1
      while (i >= 0) { v = (v << 8) | (b(p + i) & 0xffL); i -= 1 }
      p += n
      v
    }
    def strN(n: Long): String = {
      if (n < 0 || p + n > b.length) fail()
      val s = new String(b, p, n.toInt, java.nio.charset.StandardCharsets.UTF_8)
      p += n.toInt
      s
    }
    def line(): String = {
      val start = p
      while (p < b.length && b(p) != '\n') p += 1
      if (p >= b.length) fail()
      val s = new String(b, start, p - start, java.nio.charset.StandardCharsets.US_ASCII)
      p += 1
      s
    }
    if (u8() != 0x80) fail()
    val proto = u8()
    if (proto < 2 || proto > 5) fail()
    var stack = List.empty[SV]
    def pop(): SV = stack match {
      case h :: t => stack = t; h
      case Nil => fail()
    }
    def popToMark(): List[SV] = {
      val idx = stack.indexOf(SMark)
      if (idx < 0) fail()
      val (above, below) = stack.splitAt(idx)
      stack = below.tail
      above
    }
    var nOpcodes = 1L // PROTO
    var nReduce = 0L
    var strBytes = 0L
    var intSum = 0L
    val globals = Vector.newBuilder[String]
    var frameDeclared = -1L
    var frameStart = -1
    var stopped = false
    while (!stopped) {
      val op = u8()
      nOpcodes += 1
      op match {
        case 0x95 => // FRAME: the declared length is validated at STOP
          if (proto < 4 || frameDeclared >= 0) fail()
          frameDeclared = leN(8)
          frameStart = p
        case '}' | ']' | ')' => stack ::= SOther
        case 'N' | 0x88 | 0x89 => stack ::= SOther
        case '(' => stack ::= SMark
        case 'q' => leN(1)
        case 'r' => leN(4)
        case 0x94 => if (stack.isEmpty) fail() // MEMOIZE memoizes the top
        case 0x8c =>
          val n = leN(1)
          strBytes += n
          stack ::= SStr(strN(n))
        case 'X' =>
          val n = leN(4)
          strBytes += n
          stack ::= SStr(strN(n))
        case 'C' => val n = leN(1); strN(n); stack ::= SOther // SHORT_BINBYTES
        case 'B' => val n = leN(4); strN(n); stack ::= SOther // BINBYTES
        case 'K' => intSum += leN(1); stack ::= SOther
        case 'M' => intSum += leN(2); stack ::= SOther
        case 'J' => intSum += leN(4).toInt; stack ::= SOther // signed
        case 0x8a => // LONG1: n bytes, two's-complement little-endian
          val n = leN(1)
          if (n > 8) fail()
          var v = leN(n.toInt)
          if (n > 0 && n < 8 && (v & (1L << (8 * n.toInt - 1))) != 0)
            v -= 1L << (8 * n.toInt)
          intSum += v
          stack ::= SOther
        case 'G' => leN(8); stack ::= SOther // BINFLOAT (big-endian, sized past)
        case 'c' =>
          val mod = line()
          val name = line()
          val ref = s"$mod.$name"
          globals += ref
          stack ::= SGlobal(ref)
        case 0x93 => // STACK_GLOBAL: name and module are string pushes
          val name = pop() match { case SStr(v) => v; case _ => fail() }
          val mod = pop() match { case SStr(v) => v; case _ => fail() }
          val ref = s"$mod.$name"
          globals += ref
          stack ::= SGlobal(ref)
        case 'R' => // REDUCE: args over a GLOBAL callee — attribution required
          pop()
          pop() match { case SGlobal(_) => (); case _ => fail() }
          nReduce += 1
          stack ::= SOther
        case 0x81 => pop(); pop(); stack ::= SOther // NEWOBJ
        case 0x85 => pop(); stack ::= SOther
        case 0x86 => pop(); pop(); stack ::= SOther
        case 0x87 => pop(); pop(); pop(); stack ::= SOther
        case 't' => popToMark(); stack ::= SOther
        case 's' => pop(); pop(); if (stack.isEmpty) fail() // dict must remain
        case 'u' =>
          val items = popToMark()
          if (items.length % 2 != 0 || stack.isEmpty) fail()
        case 'e' => popToMark(); if (stack.isEmpty) fail()
        case '.' =>
          pop()
          if (stack.nonEmpty) fail() // leftover stack (incl. stray MARKs)
          if (p != b.length) fail() // trailing bytes
          if (frameDeclared >= 0 && (p - frameStart).toLong != frameDeclared) fail()
          stopped = true
        case _ => fail() // outside the scanner's documented subset
      }
    }
    PickleScan(id, proto.toLong, nOpcodes, globals.result().length.toLong,
      globals.result().mkString(","), nReduce, strBytes, intSum)
  }

  private[ext] def scanPickleSafe(id: Long, b: Array[Byte]): Option[PickleScan] =
    try Some(scanPickle(id, b))
    catch { case scala.util.control.NonFatal(_) => None }

  /** `pickle_scan`: the static safety inventory. Map-only. */
  def pickleScan(docs: DataFrame, idCol: String = "doc_id",
                 binCol: String = "pkl"): Dataset[PickleScan] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull)
      .select(col(idCol).cast("long"), col(binCol))
      .as[(Long, Array[Byte])]
      .flatMap { case (id, b) => if (b == null) None else scanPickleSafe(id, b) }
  }
}

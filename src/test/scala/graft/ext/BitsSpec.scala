package graft.ext

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

class BitsSpec extends AnyFunSuite {
  import BitsSpec._

  private val check = "123456789".getBytes("US-ASCII")

  test("checksums: published check values over \"123456789\"") {
    assert(Bits.crc32(check, 0, check.length) == 0xcbf43926)
    assert(Bits.crc32c(check, 0, check.length) == 0xe3069283)
    // CRC-32/BZIP2: init and final xor 0xFFFFFFFF
    assert(~check.foldLeft(-1)((c, b) => Bits.crc32MsbUpdate(c, b & 0xff)) == 0xfc891918)
    // the Ogg flavour: init 0, no final xor
    assert(check.foldLeft(0)((c, b) => Bits.crc32MsbUpdate(c, b & 0xff)) == 0x89a1897f)
    val wiki = "Wikipedia".getBytes("US-ASCII")
    assert(Bits.adler32(wiki, 0, wiki.length) == 0x11e60398)
    // the empty range is each checksum's initial value
    assert(Bits.crc32(check, 4, 4) == 0 && Bits.crc32c(check, 4, 4) == 0)
    assert(Bits.adler32(check, 4, 4) == 1)
  }

  test("checksums: from/until select a sub-range") {
    val framed = "xx123456789yyy".getBytes("US-ASCII")
    assert(Bits.crc32(framed, 2, 11) == 0xcbf43926)
    assert(Bits.crc32c(framed, 2, 11) == 0xe3069283)
    val r = new scala.util.Random(0xb175L)
    val data = Array.fill(300)(r.nextInt(256).toByte)
    for ((from, until) <- Seq((0, 300), (1, 2), (17, 290), (299, 300))) {
      val slice = data.slice(from, until)
      assert(Bits.crc32(data, from, until) == Bits.crc32(slice, 0, slice.length))
      assert(Bits.crc32c(data, from, until) == Bits.crc32c(slice, 0, slice.length))
      assert(Bits.adler32(data, from, until) == Bits.adler32(slice, 0, slice.length))
    }
  }

  test("LEB128: wire bytes and round-trips at the group boundaries") {
    val cases = Seq(
      0L -> "00",
      127L -> "7f",
      128L -> "8001",
      16383L -> "ff7f",
      16384L -> "808001",
      0xffffffffL -> "ffffffff0f",
      Long.MaxValue -> "ffffffffffffffff7f",
      -1L -> "ffffffffffffffffff01")
    for ((v, hex) <- cases) {
      val out = new java.io.ByteArrayOutputStream()
      Bits.writeUvarint(out, v)
      val wire = out.toByteArray
      assert(wire.map("%02x".format(_)).mkString == hex, s"v=$v")
      val c = cursor(wire)
      assert(c.uvarint(10) == v, s"v=$v")
      assert(c.pos == wire.length)
    }
    for (v <- Seq(0L, 1L, -1L, 63L, -64L, Long.MaxValue, Long.MinValue)) {
      assert(Bits.unzigzag(Bits.zigzag(v)) == v)
    }
    assert(Seq(0L, -1L, 1L, -2L, 2L).map(Bits.zigzag) == Seq(0L, 1L, 2L, 3L, 4L))
  }

  test("LEB128: truncated varints and one byte past maxBytes are rejected") {
    intercept[IllegalStateException](cursor(Array.emptyByteArray).uvarint(10))
    intercept[IllegalStateException](cursor(Array(0x80.toByte)).uvarint(10))
    // the limit, not the array end, bounds the read
    val framed = new Bits.Cursor(Array(0x81.toByte, 0x01), 0, 1) {
      def fail(): Nothing = throw new IllegalStateException
    }
    intercept[IllegalStateException](framed.uvarint(10))
    for (maxBytes <- Seq(5, 6, 9, 10)) {
      assert(cursor(padded(1L, maxBytes)).uvarint(maxBytes) == 1L, s"maxBytes=$maxBytes")
      intercept[IllegalStateException](cursor(padded(1L, maxBytes + 1)).uvarint(maxBytes))
    }
  }

  test("zlibWrap: the JDK's zlib framing around the same deflate body") {
    val data = ("zlib wrapper " * 40).getBytes("US-ASCII")
    def deflate(nowrap: Boolean): Array[Byte] = {
      val d = new java.util.zip.Deflater(6, nowrap)
      d.setInput(data)
      d.finish()
      val buf = new Array[Byte](4096)
      val n = d.deflate(buf)
      d.end()
      buf.take(n)
    }
    assert(Bits.zlibWrap(0x9c, deflate(nowrap = true), data).sameElements(deflate(nowrap = false)))
    val z = Bits.zlibWrap(0x01, deflate(nowrap = true), data)
    assert((z(0) & 0xff) == 0x78 && (z(1) & 0xff) == 0x01)
    val inf = new java.util.zip.Inflater() // checks the header and the Adler-32 trailer
    inf.setInput(z)
    val back = new Array[Byte](data.length + 1)
    assert(inf.inflate(back) == data.length && inf.finished())
    assert(back.take(data.length).sameElements(data))
  }

  test("bit I/O: random (value, width) sequences match a bit-by-bit reference and read back") {
    for (lsb <- Seq(true, false)) {
      val prop = Prop.forAll(Gen.listOf(opGen)) { ops =>
        val w = if (lsb) new Bits.LsbWriter(1) else new Bits.MsbWriter(1)
        ops.foreach {
          case Put(v, n, _) => w.put(v, n)
          case Align => w.alignByte()
        }
        val ref = referenceBits(ops, lsb)
        val lengthOk = w.bitLength == ref.length
        val bytes = w.toArray
        val r = reader(bytes, 0, bytes.length, lsb)
        val readOk = ops.forall {
          case Put(v, n, true) => r.skip(n); true
          case Put(v, n, false) => readWide(r, n, lsb) == low(v, n)
          case Align => r.alignByte() == 0
        }
        lengthOk && bytes.sameElements(pack(ref, lsb)) && readOk &&
          r.alignByte() == 0 && r.bitsLeft == 0
      }
      val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), prop)
      assert(res.passed, s"lsb=$lsb: $res")
    }
  }

  test("bit I/O: wire vectors per bit order") {
    def hex(b: Array[Byte]) = b.map("%02x".format(_)).mkString
    val lw = new Bits.LsbWriter
    lw.put(5, 3); lw.put(0x1f, 5); lw.put(0x123, 12)
    assert(hex(lw.toArray) == "fd2301")
    lw.putCode(0x6, 3) // code bits 1, 1, 0 in stream order
    lw.alignByte()
    lw.put(0x0123456789abcdefL, 64) // wider than 32 bits: split inside put
    assert(hex(lw.toArray) == "fd230103efcdab8967452301")
    val mw = new Bits.MsbWriter
    mw.put(5, 3); mw.put(0x1f, 5); mw.put(0x123, 12)
    assert(hex(mw.toArray) == "bf1230")
    mw.put(0x0123456789abcdefL, 64)
    assert(hex(mw.toArray) == "bf12300123456789abcdef")

    val lr = reader(lw.toArray, 0, 12, lsb = true)
    assert(lr.read(3) == 5 && lr.read(5) == 0x1f && lr.read(12) == 0x123)
    assert(lr.alignByte() == 0 && lr.bytePos == 3)
    assert(lr.read(1) == 1 && lr.read(1) == 1 && lr.read(1) == 0)
    assert(lr.alignByte() == 0 && readWide(lr, 64, lsb = true) == 0x0123456789abcdefL)
    val mr = reader(mw.toArray, 0, 11, lsb = false)
    assert(mr.read(3) == 5 && mr.read(5) == 0x1f && mr.read(12) == 0x123)
    assert(mr.alignByte() == 0 && mr.bytePos == 3)
    assert(readWide(mr, 64, lsb = false) == 0x0123456789abcdefL)
  }

  test("bit I/O: truncation reaches the format's fail()") {
    for (lsb <- Seq(true, false)) {
      val b = Array[Byte](0x5a, 0x3c, 0x7e)
      intercept[Truncated](reader(b, 0, 1, lsb).read(9)) // the limit, not the array end, bounds
      val r = reader(b, 0, 3, lsb)
      assert(r.read(20) == (if (lsb) 0xe3c5a else 0x5a3c7))
      intercept[Truncated](r.read(5))
      intercept[Truncated](reader(b, 1, 3, lsb).skip(17))
      intercept[Truncated](reader(b, 0, 3, lsb).skip(-1))
      intercept[Truncated](reader(Array.emptyByteArray, 0, 0, lsb).read(1))
    }
  }

  test("bit I/O: bytePos, alignByte, bitsLeft and peek at the edges") {
    for (lsb <- Seq(true, false)) {
      val b = Array[Byte](0x11, 0xf3.toByte, 0x22, 0x33)
      val r = reader(b, 1, 3, lsb)
      assert(r.bytePos == 1 && r.bitPos == 8 && r.bitsLeft == 16)
      r.read(3)
      intercept[Truncated](r.bytePos) // unaligned
      // the pad bits come back, so a format can insist they are zero
      assert(r.alignByte() == (if (lsb) 0xf3 >>> 3 else 0xf3 & 0x1f))
      assert(r.bytePos == 2 && r.bitsLeft == 8)
      r.skip(8)
      assert(r.bitsLeft == 0 && r.bytePos == 3 && r.read(0) == 0)
      intercept[Truncated](r.read(1))
      val s = reader(b, 0, 4, lsb)
      s.skip(13)
      assert(s.bitPos == 13 && s.bitsLeft == 19)
      s.skip(19)
      assert(s.bitsLeft == 0)
    }
    // LSB peek does not consume, and reads zeros past the end (zstd's
    // FSE table descriptions rely on it)
    val p = reader(Array[Byte](0x0f), 0, 1, lsb = true).asInstanceOf[Bits.LsbReader]
    assert(p.peek(4) == 0xf && p.read(4) == 0xf)
    assert(p.peek(10) == 0 && p.bitsLeft == 4)
    p.skip(4)
    assert(p.peek(3) == 0 && p.bitsLeft == 0)
  }
}

object BitsSpec {

  final class Truncated extends RuntimeException

  def reader(b: Array[Byte], from: Int, until: Int, lsb: Boolean): Bits.BitReader =
    if (lsb) new Bits.LsbReader(b, from, until) { def fail(): Nothing = throw new Truncated }
    else new Bits.MsbReader(b, from, until) { def fail(): Nothing = throw new Truncated }

  sealed trait Op
  final case class Put(v: Long, n: Int, skipOnRead: Boolean) extends Op
  case object Align extends Op

  val opGen: Gen[Op] = Gen.frequency(
    8 -> (for {
      n <- Gen.frequency(9 -> Gen.choose(1, 32), 1 -> Gen.choose(33, 64))
      v <- Gen.long
      skip <- Gen.frequency(4 -> false, 1 -> true)
    } yield Put(v, n, skip)),
    1 -> Gen.const(Align))

  def low(v: Long, n: Int): Long = if (n == 64) v else v & ((1L << n) - 1)

  /** A value of up to 64 bits as two reads, in the order the writer splits it. */
  def readWide(r: Bits.BitReader, n: Int, lsb: Boolean): Long =
    if (n <= 32) r.read(n) & 0xffffffffL
    else if (lsb) (r.read(32) & 0xffffffffL) | (r.read(n - 32).toLong << 32)
    else (r.read(n - 32).toLong << 32) | (r.read(32) & 0xffffffffL)

  /** The stream as a bit list, one value bit at a time. */
  def referenceBits(ops: Seq[Op], lsb: Boolean): Vector[Int] =
    ops.foldLeft(Vector.empty[Int]) {
      case (acc, Put(v, n, _)) =>
        val order = if (lsb) 0 until n else (n - 1) to 0 by -1
        acc ++ order.map(k => ((v >>> k) & 1L).toInt)
      case (acc, Align) => acc ++ Vector.fill((8 - acc.length % 8) % 8)(0)
    }

  def pack(bits: Vector[Int], lsb: Boolean): Array[Byte] = {
    val out = new Array[Byte]((bits.length + 7) / 8)
    for ((bit, i) <- bits.zipWithIndex if bit == 1) {
      val shift = if (lsb) i % 8 else 7 - i % 8
      out(i / 8) = (out(i / 8) | (1 << shift)).toByte
    }
    out
  }

  def cursor(b: Array[Byte]): Bits.Cursor = new Bits.Cursor(b, 0, b.length) {
    def fail(): Nothing = throw new IllegalStateException("bad varint")
  }

  /** `v` as an LEB128 varint stretched to exactly `n` bytes: the
    * non-minimal form a reader accepts only up to its byte bound.
    */
  def padded(v: Long, n: Int): Array[Byte] = Array.tabulate(n) { i =>
    val group = if (7 * i < 64) (v >>> (7 * i)) & 0x7f else 0L
    (if (i < n - 1) group | 0x80 else group).toByte
  }
}

package graft.ext

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
}

object BitsSpec {

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

package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class SnappySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private val payloads: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(31)
    Seq(
      "empty" -> Array.emptyByteArray,
      "tiny" -> Array[Byte](1, 2, 3),
      "four" -> Array[Byte](9, 9, 9, 9),
      "repetitive text" -> ("the quick brown fox " * 400).getBytes("UTF-8"),
      "all equal" -> Array.fill(10000)(5.toByte), // overlapping offset-1 copies
      "random" -> Array.fill(5000)(rnd.nextInt(256).toByte), // literal-heavy
      "long literal" -> Array.tabulate(70000)(i => (i * 7 % 251).toByte), // >256 literal lengths
      "long-range" -> {
        val a = Array.fill(80000)(rnd.nextInt(256).toByte)
        System.arraycopy(a, 0, a, 65000, 10000) // offsets near the 64 KiB cap
        a
      },
      // no repeated 4-gram anywhere plausible → ONE literal run > 65536,
      // the tag-62 (3-byte length) emission path
      "incompressible >64KiB" -> Array.fill(100000)(rnd.nextInt(256).toByte))
  }

  test("snappy: round trip through our own coder on every payload shape") {
    payloads.foreach { case (name, data) =>
      val back = Snappy.decompress(Snappy.compress(data), data.length)
      assert(back.toSeq == data.toSeq, name)
    }
  }

  test("snappy differential: production snappy-java decodes our streams") {
    payloads.foreach { case (name, data) =>
      val back = org.xerial.snappy.Snappy.uncompress(Snappy.compress(data))
      assert(back.toSeq == data.toSeq, s"$name: xerial decode of our stream")
    }
  }

  test("snappy differential: we decode production snappy-java streams") {
    payloads.foreach { case (name, data) =>
      val comp = org.xerial.snappy.Snappy.compress(data)
      val back = Snappy.decompress(comp, data.length)
      assert(back.toSeq == data.toSeq, s"$name: our decode of xerial stream")
    }
  }

  test("snappy: malformed streams throw, never corrupt or overrun") {
    def bad(bytes: Array[Byte], maxOut: Int = 1 << 20): Boolean =
      try { Snappy.decompress(bytes, maxOut); false }
      catch { case _: RuntimeException => true }
    val good = Snappy.compress("a perfectly reasonable payload with some repetition repetition".getBytes("UTF-8"))
    assert(!bad(good))
    assert(bad(Array.emptyByteArray), "empty stream")
    assert(bad(good.dropRight(1)), "truncated body")
    assert(bad(good.take(1)), "preamble only")
    // declared length beyond the cap is refused up front (no allocation)
    assert(bad(Snappy.compress(new Array[Byte](4096)), maxOut = 16), "declared-size cap")
    // a copy reaching before the stream start
    val evil = new java.io.ByteArrayOutputStream()
    evil.write(4) // declared length 4
    evil.write(2 | (3 << 2)) // 2-byte-offset copy, len 4
    evil.write(9); evil.write(0) // offset 9 > bytes produced so far (0)
    assert(bad(evil.toByteArray), "copy before start")
    // trailing garbage after the declared output is complete
    assert(bad(good :+ 0.toByte), "trailing garbage")
    // the length preamble as a non-minimal varint: 6 bytes is legal, one
    // byte past the 6-byte bound is rejected
    val pre = BitsSpec.cursor(good)
    val declared = pre.uvarint(6)
    def preambleIn(n: Int) = BitsSpec.padded(declared, n) ++ good.drop(pre.pos)
    assert(!bad(preambleIn(6)), "6-byte preamble")
    assert(bad(preambleIn(7)), "7-byte preamble")
  }

  test("snappySignal over Spark: decoded stats match the source") {
    import spark.implicits._
    val docs = Seq((0L, "snappy " * 500), (1L, "x"), (2L, "")).toDF("doc_id", "text")
    val sig = Snappy.snappySignal(docs).collect().map(s => s.doc_id -> s).toMap
    assert(sig(0L).n_bytes == 3500 && sig(0L).ratio < 0.1)
    assert(sig(1L).n_bytes == 1 && sig(1L).checksum == 'x'.toLong)
    assert(sig(2L).n_bytes == 0 && sig(2L).checksum == 0L)
  }
}

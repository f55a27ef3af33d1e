package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class RansSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def shannonBitsPerByte(data: Array[Byte]): Double = {
    val counts = data.groupBy(identity).values.map(_.length.toDouble)
    val n = data.length.toDouble
    counts.map { c => val p = c / n; -p * math.log(p) / math.log(2) }.sum
  }

  private val payloads: Seq[(String, Array[Byte])] = {
    val rnd = new scala.util.Random(47)
    Seq(
      "empty" -> Array.emptyByteArray,
      "one byte" -> Array[Byte](42),
      "single symbol" -> Array.fill(5000)(7.toByte), // H = 0
      "two symbols skewed" -> Array.tabulate(8000)(i => if (i % 10 == 0) 1.toByte else 0.toByte),
      "english-ish" -> ("the quick brown fox jumps over the lazy dog " * 300).getBytes("UTF-8"),
      "full alphabet uniform" -> Array.tabulate(65536)(i => (i % 256).toByte), // H = 8
      "random" -> Array.fill(20000)(rnd.nextInt(256).toByte),
      "rare-symbol stress" -> (Array.fill(60000)(0.toByte) ++
        Array.tabulate(255)(i => (i + 1).toByte))) // 255 symbols floored up to 1 slot
  }

  test("rans: round trip on every payload shape") {
    payloads.foreach { case (name, data) =>
      val back = Rans.decompress(Rans.compress(data), data.length)
      assert(back.toSeq == data.toSeq, name)
    }
  }

  test("rans: rate tracks the Shannon entropy of the byte distribution") {
    // rANS should land within ~2% + header of the empirical entropy —
    // the fractional-bit precision Huffman lacks
    Seq("two symbols skewed", "english-ish", "full alphabet uniform", "random").foreach { name =>
      val data = payloads.toMap.apply(name)
      val comp = Rans.compress(data)
      val hBits = shannonBitsPerByte(data) * data.length
      val headerBytes = 2 + 3 * 256 + 4 + 8 // worst-case model + state + varint
      assert(comp.length * 8 <= hBits * 1.02 + headerBytes * 8,
        s"$name: ${comp.length * 8} bits vs entropy ${hBits.toLong} bits")
    }
    // the skewed-binary case specifically: Huffman's floor is 1 bit/byte,
    // entropy is ~0.47 — rANS must beat the Huffman floor
    val skew = payloads.toMap.apply("two symbols skewed")
    val comp = Rans.compress(skew)
    assert(comp.length.toDouble * 8 / skew.length < 0.6,
      s"sub-Huffman rate expected, got ${comp.length * 8.0 / skew.length} bits/byte")
  }

  test("rans: malformed streams throw, never corrupt") {
    def bad(bytes: Array[Byte], maxOut: Int = 1 << 20): Boolean =
      try { Rans.decompress(bytes, maxOut); false }
      catch { case _: RuntimeException => true }
    val good = Rans.compress("entropy coding stress payload with some structure".getBytes("UTF-8"))
    assert(!bad(good))
    assert(bad(Array.emptyByteArray), "empty stream")
    assert(bad(good.dropRight(1)), "truncated body")
    assert(bad(good.take(3)), "header only")
    assert(bad(Rans.compress(new Array[Byte](4096)), maxOut = 16), "declared-size cap")
    // corrupt one body byte: the state fails to return to L
    val flipped = good.clone()
    flipped(flipped.length - 1) = (flipped(flipped.length - 1) ^ 0x11).toByte
    assert(bad(flipped), "flipped body byte must not decode cleanly")
    // corrupt the frequency table: sum != M is rejected up front
    val hdr = good.clone()
    hdr(6) = (hdr(6) ^ 0x01).toByte
    assert(bad(hdr), "tampered model table")
    // the length preamble as a non-minimal varint: 6 bytes is legal, one
    // byte past the 6-byte bound is rejected
    val pre = BitsSpec.cursor(good)
    val declared = pre.uvarint(6)
    def preambleIn(n: Int) = BitsSpec.padded(declared, n) ++ good.drop(pre.pos)
    assert(!bad(preambleIn(6)), "6-byte preamble")
    assert(bad(preambleIn(7)), "7-byte preamble")
  }

  test("ransSignal over Spark: decoded stats match the source; rate beats LZ on short skewed text") {
    import spark.implicits._
    val docs = Seq((0L, "aaaaabaaaaacaaaaab" * 40), (1L, "z"), (2L, "")).toDF("doc_id", "text")
    val sig = Rans.ransSignal(docs).collect().map(s => s.doc_id -> s).toMap
    assert(sig(0L).n_bytes == 18 * 40)
    assert(sig(0L).ratio < 0.3, s"skewed text must entropy-code well, got ${sig(0L).ratio}")
    assert(sig(1L).n_bytes == 1 && sig(1L).checksum == 'z'.toLong)
    assert(sig(2L).n_bytes == 0 && sig(2L).checksum == 0L)
  }
}

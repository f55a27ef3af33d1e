package graft.ext

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Brotli is verified differentially like the zstd codec, but the
  * reference encoder lives outside the JVM, so the differential is
  * COMMITTED FIXTURES: streams produced by libbrotli (via
  * tools/gen_brotli_fixtures.py) across qualities 0/1/5/9/11, windows
  * 10/18/22/24 and both modes. The INPUTS are regenerated here by
  * generators that mirror the python ones bit-exactly (64-bit LCG), so
  * nothing but the .br bytes is committed. The raw-framing ENCODER is
  * pinned the other way: the generator committed the exact bytes
  * libbrotli accepted for [[Brotli.compressRaw]]'s framing, and this
  * spec requires our encoder to reproduce them.
  */
class BrotliSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  // ----------------------------------------------- mirrored generators

  /** Must match tools/gen_brotli_fixtures.py Lcg exactly. */
  private final class Lcg(seed: Long) {
    private var x: Long = seed * 0x9E3779B97F4A7C15L
    def next(): Int = {
      x = x * 6364136223846793005L + 1442695040888963407L
      ((x >>> 33) & 0x7FFFFFFFL).toInt
    }
  }

  private val Words = Array(
    "the", "of", "and", "to", "in", "that", "was", "his", "he", "it",
    "with", "is", "for", "as", "had", "you", "not", "be", "her", "on",
    "at", "by", "which", "have", "or", "from", "this", "him", "but", "all",
    "she", "they", "were", "my", "are", "me", "one", "their", "so", "an")

  private def textEnglish(nWords: Int, seed: Long): Array[Byte] = {
    val r = new Lcg(seed)
    val sb = new StringBuilder(nWords * 5)
    var i = 0
    while (i < nWords) {
      var w = Words(r.next() % Words.length)
      val m = r.next() % 17
      if (m == 0) w = w.substring(0, 1).toUpperCase + w.substring(1)
      else if (m == 1) w = w.toUpperCase
      sb.append(w)
      sb.append(if (r.next() % 13 == 0) ". " else " ")
      i += 1
    }
    sb.toString.getBytes(UTF_8)
  }

  private def randomBytes(n: Int, seed: Long): Array[Byte] = {
    val r = new Lcg(seed)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = (r.next() % 256).toByte; i += 1 }
    out
  }

  private def lowEntropy(n: Int, seed: Long): Array[Byte] = {
    val r = new Lcg(seed)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) { out(i) = ('a' + r.next() % 3).toByte; i += 1 }
    out
  }

  private def jsonLike(nRecords: Int, seed: Long): Array[Byte] = {
    val r = new Lcg(seed)
    val sb = new StringBuilder()
    sb.append('[')
    var i = 0
    while (i < nRecords) {
      if (i > 0) sb.append(',')
      sb.append("{\"id\":").append(i)
        .append(",\"name\":\"").append(Words(r.next() % Words.length))
        .append("\",\"score\":").append(r.next() % 1000)
        .append(",\"tags\":[\"").append(Words(r.next() % Words.length))
        .append("\",\"").append(Words(r.next() % Words.length))
        .append("\"]}")
      i += 1
    }
    sb.append(']')
    sb.toString.getBytes(UTF_8)
  }

  private val Utf8Para =
    "Füße tragen müde Wanderer über die Straße; καλημέρα κόσμε; Привет мир; 你好世界. ".getBytes(UTF_8)

  private def repeat(b: Array[Byte], n: Int): Array[Byte] = {
    val out = new Array[Byte](b.length * n)
    var i = 0
    while (i < n) { System.arraycopy(b, 0, out, i * b.length, b.length); i += 1 }
    out
  }

  private def dictWords(n: Int, seed: Long): Array[Byte] = {
    val blob = resource("/graft/brotli/dictionary.bin")
    val sizeBits = (0 until 32).map(i => blob(i) & 0xff)
    val offsets = (0 until 32).map(i => ((blob(32 + 4 * i) & 0xff) << 24) |
      ((blob(33 + 4 * i) & 0xff) << 16) | ((blob(34 + 4 * i) & 0xff) << 8) | (blob(35 + 4 * i) & 0xff))
    val data = java.util.Arrays.copyOfRange(blob, 160, blob.length)
    val r = new Lcg(seed)
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < n) {
      val ln = 4 + r.next() % 21
      val nwords = 1 << sizeBits(ln)
      val idx = r.next() % nwords
      out.write(data, offsets(ln) + idx * ln, ln)
      out.write(' ')
      i += 1
    }
    out.toByteArray
  }

  private def allBytes: Array[Byte] =
    repeat((0 until 256).map(_.toByte).toArray, 64)

  private def resource(path: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(path)
    assert(in != null, s"missing test resource $path")
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()
  }

  // fixture name -> regenerated input (must match the python FIXTURES list)
  private lazy val fixtures: Seq[(String, Array[Byte])] = Seq(
    "empty_q1" -> Array.emptyByteArray,
    "one_q11" -> "a".getBytes(UTF_8),
    "hello_q5" -> "hello world".getBytes(UTF_8),
    "english50k_q0" -> textEnglish(9000, 1),
    "english50k_q1" -> textEnglish(9000, 1),
    "english50k_q5" -> textEnglish(9000, 1),
    "english50k_q9" -> textEnglish(9000, 1),
    "english50k_q11" -> textEnglish(9000, 1),
    "caps20k_q11" -> textEnglish(4000, 2),
    "dictwords_q11" -> dictWords(3000, 3),
    "dictwords_q5" -> dictWords(3000, 3),
    "utf8_q5" -> repeat(Utf8Para, 200),
    "utf8_q11" -> repeat(Utf8Para, 200),
    "random100k_q1" -> randomBytes(100000, 4),
    "random100k_q11" -> randomBytes(100000, 4),
    "lowent200k_q1" -> lowEntropy(200000, 5),
    "lowent200k_q11" -> lowEntropy(200000, 5),
    "big4m_q5_w24" -> textEnglish(700000, 6),
    "big4m_q5_w10" -> textEnglish(700000, 6),
    "big4m_q9_w18" -> textEnglish(700000, 6),
    "json20k_q11" -> jsonLike(2000, 7),
    "allbytes_q11" -> allBytes)

  test("differential: libbrotli streams across qualities/windows/modes decode byte-exactly") {
    fixtures.foreach { case (name, want) =>
      val br = resource(s"/graft/brotli/$name.br")
      val got = Brotli.decompress(br, math.max(1, want.length))
      val firstDiff = got.indices.find(i => i >= want.length || got(i) != want(i))
      assert(java.util.Arrays.equals(got, want),
        s"$name: decoded ${got.length} bytes, expected ${want.length}; first diff at $firstDiff")
    }
  }

  test("raw-framing encoder reproduces the libbrotli-verified fixture bytes") {
    val cases = Seq(
      "rawframe0" -> Array.emptyByteArray,
      "rawframe1" -> "x".getBytes(UTF_8),
      "rawframe50k" -> textEnglish(9000, 1),
      "rawframe70k" -> randomBytes(70000, 8))
    cases.foreach { case (name, input) =>
      val want = resource(s"/graft/brotli/$name.brraw")
      val got = Brotli.compressRaw(input)
      assert(java.util.Arrays.equals(got, want), s"$name: encoder drifted from the pinned framing")
      assert(java.util.Arrays.equals(Brotli.decompress(got, math.max(1, input.length)), input),
        s"$name: round trip")
    }
    val pinned = EncoderPins.digest(EncoderPins.inputs.map(Brotli.compressRaw))
    assert(pinned == "f40a60908d679d19a85a7e42af7375b93829bc7fc6c51885a68e9f9f7adc8606",
      "compressRaw output moved")
  }

  test("metadata meta-blocks are skipped; malformed streams are quarantined") {
    def fails(b: Array[Byte], maxOut: Int = 1 << 20): Boolean =
      try { Brotli.decompress(b, maxOut); false } catch { case _: RuntimeException => true }
    // handcrafted: wbits16, metadata block skipping 3 bytes, empty last
    locally {
      val out = new java.io.ByteArrayOutputStream()
      var acc = 0; var nAcc = 0
      def put(v: Int, n: Int): Unit = {
        acc |= (v & ((1 << n) - 1)) << nAcc; nAcc += n
        while (nAcc >= 8) { out.write(acc & 0xff); acc >>>= 8; nAcc -= 8 }
      }
      def align(): Unit = if (nAcc > 0) { out.write(acc & 0xff); acc = 0; nAcc = 0 }
      put(0, 1) // wbits 16
      put(0, 1) // ISLAST = 0
      put(3, 2) // MNIBBLES code 3: metadata
      put(0, 1) // reserved
      put(1, 2) // MSKIPBYTES = 1
      put(2, 8) // skip 3 bytes
      align()
      out.write(Array[Byte](9, 9, 9), 0, 3)
      put(1, 1); put(1, 1) // ISLAST, ISLASTEMPTY
      align()
      val got = Brotli.decompress(out.toByteArray, 16)
      assert(got.length == 0, "metadata must be skipped, not emitted")
    }
    assert(fails(Array.emptyByteArray), "empty stream")
    assert(fails(Array[Byte](0x11)), "reserved wbits pattern")
    val good = resource("/graft/brotli/english50k_q5.br")
    assert(fails(good.take(good.length / 2)), "truncated stream")
    assert(fails(good :+ 0x55.toByte), "trailing garbage after the last meta-block")
    // decompression bomb gate: output cap enforced before materialization
    assert(fails(resource("/graft/brotli/big4m_q5_w24.br"), maxOut = 1 << 16),
      "maxOut must stop an over-limit stream")
    assert(fails(Brotli.compressRaw("hi".getBytes(UTF_8)).dropRight(1)), "truncated raw framing")
  }

  test("fuzz: corrupted and truncated brotli streams fail cleanly, never hang or overrun") {
    // brotli carries no payload checksum, so a mutation may legally decode
    // to wrong bytes — the contract is the untrusted-ingest one: every
    // mutation either throws MalformedBrotli (the ONLY documented failure
    // — an escaping OOB/NPE fails this test) or returns within the
    // declared maxOut, with no hang or unbounded allocation.
    val rnd = new scala.util.Random(68)
    val want = textEnglish(9000, 1)
    val seeds = Seq(
      resource("/graft/brotli/english50k_q5.br"),
      resource("/graft/brotli/english50k_q11.br"),
      Brotli.compressRaw(want))
    seeds.foreach { good =>
      (0 until 400).foreach { _ =>
        val mutated = good.clone()
        rnd.nextInt(3) match {
          case 0 =>
            val i = rnd.nextInt(mutated.length)
            mutated(i) = (mutated(i) ^ (1 << rnd.nextInt(8))).toByte
          case 1 =>
            val i = rnd.nextInt(mutated.length)
            mutated(i) = rnd.nextInt(256).toByte
          case _ => ()
        }
        val bytes = if (rnd.nextBoolean()) mutated.take(rnd.nextInt(mutated.length + 1)) else mutated
        try {
          val out = Brotli.decompress(bytes, want.length + 64)
          assert(out.length <= want.length + 64, "maxOut overrun")
        } catch { case _: Brotli.MalformedBrotli => () }
      }
    }
  }

  test("brotliSignal: per-doc round trip over a corpus") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma " * 10),
      (1L, "delta " * 50),
      (2L, ""),
      (3L, "unique text with no repetition at all 12345")).toDF("doc_id", "text")
    val got = Brotli.brotliSignal(docs).collect().sortBy(_.doc_id)
    assert(got.length == 4)
    got.foreach { s =>
      val want = docs.filter($"doc_id" === s.doc_id).head().getString(1).getBytes(UTF_8)
      assert(s.n_bytes == want.length, s"round trip length: $s")
      var c = 0L
      want.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
      assert(s.checksum == c)
      // the closed-form framed length the oracle replays
      val frame = if (want.length == 0) 1L else if (want.length <= 65536) want.length + 4L else want.length + 5L
      assert(s.br_len == frame, s"framed length model: $s")
    }
  }

  // ------------------------------------------------- quality-1 encoder

  test("q1 encoder: output bytes are pinned over the fixed input set") {
    val got = EncoderPins.digest(EncoderPins.inputs.map(Brotli.compressQ1))
    assert(got == "630c9456c5cae30b3f5ac7206f76a9684fdb61db27140e617c0ced993e7bb0ac", "compressQ1 output moved")
  }

  test("q1 encoder: round trips every fixture corpus through the pinned decoder") {
    fixtures.foreach { case (name, input) =>
      val c = Brotli.compressQ1(input)
      val got = Brotli.decompress(c, math.max(1, input.length))
      assert(java.util.Arrays.equals(got, input), s"$name: q1 round trip (${input.length} bytes)")
    }
  }

  test("q1 encoder: genuinely compresses — beats raw framing on compressible text") {
    Seq(textEnglish(9000, 1), lowEntropy(200000, 5), jsonLike(2000, 7),
      repeat(Utf8Para, 200)).foreach { d =>
      val q1 = Brotli.compressQ1(d).length
      val raw = Brotli.compressRaw(d).length
      assert(q1 < (raw * 3) / 4, s"q1=$q1 raw=$raw on ${d.length} compressible bytes")
    }
    // incompressible input must not blow up badly (prefix-code overhead only)
    val rnd = randomBytes(100000, 4)
    assert(Brotli.compressQ1(rnd).length < rnd.length + rnd.length / 8)
  }

  test("q1 encoder: fuzz round trips across sizes, alphabets, and run shapes") {
    val rnd = new scala.util.Random(0x0b107111)
    for (t <- 0 until 120) {
      val n = rnd.nextInt(1 << (4 + rnd.nextInt(13))) // 0 .. ~128k, size-skewed
      val d = (t % 5) match {
        case 0 => Array.fill(n)(rnd.nextInt(256).toByte)
        case 1 => Array.fill(n)((rnd.nextInt(3) + 'a').toByte) // tiny alphabet
        case 2 => Array.fill(n)('z'.toByte) // single giant run
        case 3 => Array.tabulate(n)(i => ((i / 7) % 251).toByte)
        case _ =>
          val w = "the quick brown fox jumps over the lazy dog "
          (w * (n / w.length + 1)).substring(0, n).getBytes(UTF_8)
      }
      val got = Brotli.decompress(Brotli.compressQ1(d), math.max(1, n))
      assert(java.util.Arrays.equals(got, d), s"t=$t n=$n shape=${t % 5}")
    }
  }

  test("q1 encoder: multi-meta-block input (> 4 MB chunk) round trips") {
    val big = {
      val b = new java.io.ByteArrayOutputStream()
      var i = 0
      while (b.size < (1 << 22) + 70000) { b.write(s"record $i with some shared structure\n".getBytes(UTF_8)); i += 1 }
      b.toByteArray
    }
    val c = Brotli.compressQ1(big)
    assert(java.util.Arrays.equals(Brotli.decompress(c, big.length + 16), big))
    assert(c.length < big.length / 2, s"multi-block text should compress well: ${c.length}/${big.length}")
  }

  test("q1 encoder: small windows force re-referenced distances within range") {
    // data longer than the wbits-10 window would be, to exercise window capping
    val d = textEnglish(40000, 11) // ~200 KB, wbits ends up > 10
    val c = Brotli.compressQ1(d)
    assert(java.util.Arrays.equals(Brotli.decompress(c, d.length + 16), d))
  }
}

package graft.ext

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The zstd codec is verified the way the other codecs are: round trip
  * against itself, then BOTH cross-differential directions against the
  * production implementation (zstd-jni — libzstd's own binding, already
  * on Spark's classpath), then malformed-input quarantine. The lib
  * differential is what pins every format detail: bit order, FSE state
  * discipline, repcodes, Huffman canonicalization, checksum.
  */
class ZstdSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def fixtures: Seq[Array[Byte]] = Seq(
    "",
    "a",
    "ab",
    "hello world",
    "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa",
    "the quick brown fox jumps over the lazy dog. " * 40,
    "abcabcabcabcabcabcabcabcabcabcabcabcabcabcabc",
    ("tok" + "en repetition with some long range structure, ") * 200,
    (0 until 256).map(_.toChar).mkString * 8, // all byte values
    scala.util.Random.javaRandomToRandom(new java.util.Random(42))
      .alphanumeric.take(10000).mkString,
    {
      val r = new java.util.Random(7)
      (0 until 50000).map(_ => ('a' + r.nextInt(4)).toChar).mkString // low entropy
    },
    {
      val r = new java.util.Random(9)
      (0 until 300000).map(_ => (r.nextInt(256)).toChar).mkString // multi-block
    }
  ).map(_.getBytes(UTF_8))

  test("round trip: compress then decompress restores every fixture byte-exactly") {
    fixtures.foreach { data =>
      val back = Zstd.decompress(Zstd.compress(data), math.max(1, data.length))
      assert(java.util.Arrays.equals(back, data), s"round trip broke at ${data.length} bytes")
    }
  }

  test("compress: output bytes are pinned over the fixed input set") {
    val got = EncoderPins.digest(EncoderPins.inputs.map(Zstd.compress))
    assert(got == "aed499fbf33d57020fdd1d6fa7155567e259f3ae31c98c8c2c4db0b4b7021aa3", "zstd compress output moved")
  }

  test("xxh64 matches Spark's catalyst XXH64 (and known vectors)") {
    import org.apache.spark.sql.catalyst.expressions.XXH64
    import org.apache.spark.unsafe.Platform
    fixtures.foreach { data =>
      assert(Zstd.xxh64(data, 0L) ==
        XXH64.hashUnsafeBytes(data, Platform.BYTE_ARRAY_OFFSET, data.length, 0L),
        s"xxh64 diverged at ${data.length} bytes")
      assert(Zstd.xxh64(data, 7L) ==
        XXH64.hashUnsafeBytes(data, Platform.BYTE_ARRAY_OFFSET, data.length, 7L),
        s"seeded xxh64 diverged at ${data.length} bytes")
    }
    assert(Zstd.xxh64(Array.emptyByteArray, 0L) == 0xEF46DB3751D8E999L) // canonical vector
  }

  test("differential: OUR frames decode with libzstd (zstd-jni)") {
    fixtures.foreach { data =>
      val comp = Zstd.compress(data)
      val back = com.github.luben.zstd.Zstd.decompress(comp, math.max(1, data.length))
      assert(java.util.Arrays.equals(back, data),
        s"libzstd could not reproduce our frame at ${data.length} bytes")
    }
  }

  test("differential: libzstd frames at many levels decode with OUR decoder") {
    // levels exercise different literal/sequence modes: fast levels lean
    // raw/RLE, high levels emit 4-stream Huffman + FSE-described and
    // repeat tables
    for (data <- fixtures; level <- Seq(1, 3, 9, 19)) {
      val comp = com.github.luben.zstd.Zstd.compress(data, level)
      val back = Zstd.decompress(comp, math.max(1, data.length))
      assert(java.util.Arrays.equals(back, data),
        s"our decoder broke on libzstd level $level at ${data.length} bytes")
    }
  }

  test("compression is competitive: within 1.5x of libzstd level 3 on text") {
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog. " * 100,
      "Large language models are trained on diverse corpora of text " +
        "documents gathered from the web, books, and code repositories. " * 30,
      scala.util.Random.javaRandomToRandom(new java.util.Random(5))
        .alphanumeric.take(8000).mkString)
    texts.foreach { t =>
      val data = t.getBytes(UTF_8)
      val ours = Zstd.compress(data).length
      val lib = com.github.luben.zstd.Zstd.compress(data, 3).length
      assert(ours <= lib * 3 / 2,
        s"Huffman literals + predefined-FSE sequences must stay within 1.5x " +
          s"of libzstd-3: ours $ours vs lib $lib on ${data.length} bytes")
    }
  }

  test("malformed inputs are quarantined, never misread") {
    val good = Zstd.compress(("some payload to damage " * 20).getBytes(UTF_8))
    def fails(b: Array[Byte]): Boolean =
      try { Zstd.decompress(b, 1 << 20); false } catch { case _: RuntimeException => true }
    assert(fails(Array[Byte]()), "empty input")
    assert(fails(good.take(3)), "truncated magic")
    assert(fails(good.take(good.length - 1)), "truncated checksum")
    val badMagic = good.clone(); badMagic(0) = 0x29.toByte
    assert(fails(badMagic), "wrong magic")
    val flipped = good.clone(); flipped(good.length / 2) = (flipped(good.length / 2) ^ 0x40).toByte
    assert(fails(flipped), "bit flip mid-frame must fail the strict checks or the checksum")
    val badCks = good.clone(); badCks(good.length - 1) = (badCks(good.length - 1) ^ 1).toByte
    assert(fails(badCks), "checksum flip")
  }

  test("multi-frame streams: concatenated frames + skippable frames demux exactly") {
    val parts = Seq("first frame", "second " * 20, "", "third")
      .map(_.getBytes(UTF_8))
    val out = new java.io.ByteArrayOutputStream()
    // leading skippable frame (seek-table placeholder), then frames with a
    // skippable wedged in the middle
    def skippable(payload: Array[Byte]): Unit = {
      out.write(0x50); out.write(0x2A); out.write(0x4D); out.write(0x18)
      out.write(payload.length); out.write(0); out.write(0); out.write(0)
      out.write(payload, 0, payload.length)
    }
    skippable("seek table goes here".getBytes(UTF_8))
    parts.zipWithIndex.foreach { case (p, i) =>
      if (i == 2) skippable(Array[Byte](1, 2, 3))
      val f = Zstd.compress(p)
      out.write(f, 0, f.length)
    }
    val got = Zstd.decompressFrames(out.toByteArray, 1 << 20)
    assert(got.length == parts.length)
    got.zip(parts).foreach { case (g, w) => assert(java.util.Arrays.equals(g, w)) }
    // libzstd also treats the concatenation as one stream
    val total = parts.map(_.length).sum
    val lib = com.github.luben.zstd.Zstd.decompress(out.toByteArray, math.max(1, total))
    assert(java.util.Arrays.equals(lib, parts.reduce(_ ++ _)))
    // a truncated tail frame fails instead of returning partial frames
    val bytes = out.toByteArray
    assertThrows[RuntimeException](Zstd.decompressFrames(bytes.dropRight(1), 1 << 20))
  }

  test("zstExtract: archives demux to per-record rows; damage quarantines the archive") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta " * 30), (16L, "gamma"), (32L, ""),
      (1L, "delta epsilon"), (17L, "zeta " * 50)).toDF("doc_id", "text")
    val archives = Zstd.encodeZstArchives(docs, nArchives = 16)
    val got = Zstd.zstExtract(archives).collect()
      .map(e => (e.archive_id, e.rec_idx) -> (e.rec_doc_id, e.n_bytes)).toMap
    assert(got.size == 5)
    assert(got((0L, 0L))._1 == 0L && got((0L, 1L))._1 == 16L && got((0L, 2L))._1 == 32L)
    assert(got((1L, 0L))._1 == 1L && got((1L, 1L))._1 == 17L)
    assert(got((0L, 2L))._2 == 0L, "empty doc round-trips as zero bytes")
    // flip one payload byte: that archive vanishes, the other survives
    val rows = archives.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
    val damaged = rows.map { case (aid, p) =>
      if (aid == 0L) { val q = p.clone(); q(p.length / 2) = (q(p.length / 2) ^ 0x10).toByte; (aid, q) }
      else (aid, p)
    }
    val after = Zstd.zstExtract(damaged.toSeq.toDF("archive_id", "payload")).collect()
    assert(after.map(_.archive_id).toSet == Set(1L),
      "damaged archive quarantines whole; clean archive unaffected")
  }

  test("zstdSignal: per-doc round-trip stats over a corpus") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma " * 10),
      (1L, "delta " * 50),
      (2L, ""),
      (3L, "unique text with no repetition at all 12345")).toDF("doc_id", "text")
    val got = Zstd.zstdSignal(docs).collect().sortBy(_.doc_id)
    assert(got.length == 4)
    got.foreach { s =>
      assert(s.n_bytes >= 0, s"round trip must not break: $s")
      val want = docs.filter($"doc_id" === s.doc_id).head().getString(1).getBytes(UTF_8)
      assert(s.n_bytes == want.length)
      var c = 0L
      want.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
      assert(s.checksum == c)
    }
    assert(got(1).ratio < 1.0, "repetitive doc must compress below 1.0")
  }

  test("decompression bomb: a block calling for more than 128 KB is malformed, not an OOM") {
    def fails(b: Array[Byte]): Boolean =
      try { Zstd.decompress(b, 1 << 26); false } catch { case _: RuntimeException => true }
    def frame(blockBytes: Array[Byte], bsize: Int, btype: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(0x28); out.write(0xB5); out.write(0x2F); out.write(0xFD) // magic LE
      out.write(0x00) // descriptor: no single-segment/FCS/checksum/dict
      out.write(0x00) // window descriptor
      val bh = (bsize << 3) | (btype << 1) | 1 // last block
      out.write(bh & 0xff); out.write((bh >> 8) & 0xff); out.write((bh >> 16) & 0xff)
      out.write(blockBytes)
      out.toByteArray
    }
    // RLE block declaring a 196608-byte regeneration: over Block_Maximum_Size
    assert(fails(frame(Array('A'.toByte), 196608, 1)), "oversized RLE block")
    // raw block declaring 196608 content bytes
    assert(fails(frame(Array.fill(196608)('A'.toByte), 196608, 0)), "oversized raw block")
    // crafted COMPRESSED block, 294 bytes on the wire, whose sequences
    // regenerate ~8.3 MB (127 sequences x ml 65540): the in-loop cap
    // must trip at 128 KB instead of materializing the expansion
    val blk = new java.io.ByteArrayOutputStream()
    // literals: RLE type (1), size_format 1 -> v = type | (sf<<2) | (rs<<4), rs=127
    val lv = 1 | (1 << 2) | (127 << 4)
    blk.write(lv & 0xff); blk.write((lv >> 8) & 0xff); blk.write('A')
    blk.write(127) // nbSeq
    blk.write((1 << 6) | (1 << 4) | (1 << 2)) // LL/OF/ML all RLE mode
    blk.write(1)   // LL code 1: ll = 1, 0 extra bits
    blk.write(2)   // OF code 2: ofValue = 4 + 2 extra bits -> offset 1
    blk.write(52)  // ML code 52: ml = 65539 + 16 extra bits
    // backward bitstream: 127 x (2 + 16) zero extra bits, then sentinel.
    // 2286 zero bits = 285 zero bytes + sentinel byte 0x40 (bit index 6)
    blk.write(new Array[Byte](285), 0, 285)
    blk.write(0x40)
    val seqBomb = blk.toByteArray
    assert(seqBomb.length == 294, s"fixture drifted: ${seqBomb.length}")
    assert(fails(frame(seqBomb, seqBomb.length, 2)), "sequence-expansion bomb")
  }

  test("regression: repcode history persists across blocks within a frame") {
    // block 2 opens with an offset-1 run match; a per-block (1,4,8)
    // reset in the encoder's history simulation made it a repcode the
    // decoder resolves against block 1's LAST offset — a corrupt frame
    // both our decoder and libzstd rejected by checksum
    val sb = new StringBuilder
    val rnd = new scala.util.Random(7)
    while (sb.length < 131072) {
      sb.append("the quick brown fox jumps over the lazy dog ")
      sb.append(rnd.alphanumeric.take(20).mkString)
      sb.append(' ')
    }
    sb.setLength(131072)
    sb.append('q').append("Z" * 300)
    sb.append("tail text to finish the block with content ")
    val data = sb.toString.getBytes(UTF_8)
    val comp = Zstd.compress(data)
    assert(java.util.Arrays.equals(Zstd.decompress(comp, data.length), data),
      "multi-block frame with an early block-2 run must round-trip")
    assert(java.util.Arrays.equals(
      com.github.luben.zstd.Zstd.decompress(comp, data.length), data),
      "libzstd must agree on the cross-block repcode frame")
  }

  test("dictionary frames: zstd-jni trained dictionary decodes with OUR decoder") {
    // a corpus of similar small documents — the trained-dictionary use
    // case: cross-document redundancy lives in the dict, not the frame
    val rnd = new java.util.Random(31)
    val verbs = Seq("ships", "stores", "indexes", "replays", "compacts", "audits")
    val nouns = Seq("the manifest", "every record", "a checkpoint", "its payload")
    def doc(i: Int): Array[Byte] =
      (s"service-$i ${verbs(rnd.nextInt(verbs.size))} ${nouns(rnd.nextInt(nouns.size))} " +
        s"under policy ${rnd.nextInt(100)}; " +
        "retention applies to cold storage tiers and replicated segments.").getBytes(UTF_8)
    val samples = (0 until 400).map(doc)
    val trainer = new com.github.luben.zstd.ZstdDictTrainer(1 << 20, 4096)
    samples.foreach(s => trainer.addSample(s))
    val dict = trainer.trainSamples()
    val cctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      cctx.loadDict(dict); cctx.setLevel(3)
      val targets = (400 until 420).map(doc)
      targets.foreach { data =>
        val comp = cctx.compress(data)
        val back = Zstd.decompressWithDict(comp, dict, 1 << 20)
        assert(java.util.Arrays.equals(back, data),
          "trained-dict frame did not decode against the dictionary")
        // the frame names the dictionary: decoding without it must fail
        assert(
          try { Zstd.decompress(comp, 1 << 20); false } catch { case _: RuntimeException => true },
          "a frame declaring a dictionary id must not decode bare")
        // ... or against a DIFFERENT structured dictionary (wrong id)
        val trainer2 = new com.github.luben.zstd.ZstdDictTrainer(1 << 20, 4096)
        samples.reverse.take(200).foreach(s => trainer2.addSample(s))
        val dict2 = trainer2.trainSamples()
        if (!java.util.Arrays.equals(dict, dict2))
          assert(
            try { Zstd.decompressWithDict(comp, dict2, 1 << 20); false }
            catch { case _: RuntimeException => true },
            "wrong-id dictionary must be rejected")
      }
    } finally cctx.close()
  }

  test("raw-content dictionary: history pre-seed decodes negative-offset matches") {
    val dictContent = ("shared preamble that every document starts from; " * 40).getBytes(UTF_8)
    val data = (new String(dictContent, UTF_8) + "and a unique tail 0123456789").getBytes(UTF_8)
    val cctx = new com.github.luben.zstd.ZstdCompressCtx()
    try {
      cctx.loadDict(dictContent); cctx.setLevel(3)
      val comp = cctx.compress(data)
      assert(comp.length < data.length / 4,
        s"fixture must actually use the dict history: ${comp.length} vs ${data.length}")
      val back = Zstd.decompressWithDict(comp, dictContent, 1 << 20)
      assert(java.util.Arrays.equals(back, data), "raw-content dict decode diverged")
    } finally cctx.close()
  }

  test("compressWithRawDict: our dict frames round-trip AND decode through libzstd") {
    val dict = ("common phrase bank: the quick brown fox; lorem ipsum dolor sit amet; " +
      "shared boilerplate header and footer text every doc reuses; " * 10).getBytes(UTF_8)
    val docs = Seq(
      "lorem ipsum dolor sit amet, plus a unique suffix A17",
      "shared boilerplate header and footer text every doc reuses; middle bit; " +
        "shared boilerplate header and footer text every doc reuses;",
      "completely unrelated content with no dictionary overlap at all 998877",
      "", // empty document
      "the quick brown fox; " * 50) // dict hit + self-repetition
      .map(_.getBytes(UTF_8))
    val dctx = new com.github.luben.zstd.ZstdDecompressCtx()
    try {
      dctx.loadDict(dict)
      docs.foreach { data =>
        val comp = Zstd.compressWithRawDict(data, dict)
        assert(java.util.Arrays.equals(Zstd.decompressWithDict(comp, dict, math.max(1, data.length)), data),
          "our decoder must round-trip the dict frame")
        assert(java.util.Arrays.equals(dctx.decompress(comp, data.length), data),
          "libzstd must decode our dict frame against the same dictionary")
      }
      // the dictionary must actually help on dict-overlapping content
      val overlapping = docs(0)
      assert(Zstd.compressWithRawDict(overlapping, dict).length < Zstd.compress(overlapping).length,
        "dict frame should beat the bare frame on overlapping content")
      // decoding against the WRONG raw dictionary is caught by the checksum
      val other = new Array[Byte](dict.length)
      java.util.Arrays.fill(other, 'x'.toByte)
      val comp = Zstd.compressWithRawDict(overlapping, dict)
      assert(
        try { Zstd.decompressWithDict(comp, other, 1 << 20); false }
        catch { case _: RuntimeException => true },
        "wrong raw dict must fail the content checksum")
    } finally dctx.close()
  }

  test("dictTrain: deterministic bounded selection; dictSignal round-trips and the dict wins") {
    import spark.implicits._
    // a corpus with heavy cross-document phrase reuse — the trained-dict use case
    val phrases = Array(
      "the committee approved the quarterly budget report. ",
      "users reported intermittent latency on the search endpoint. ",
      "this document is confidential and for internal use only. ",
      "release notes: bug fixes and performance improvements. ")
    val docs = (0L until 300L).map { i =>
      val sb = new StringBuilder
      (0 until 4).foreach(k => sb.append(phrases(((i + k) % 4).toInt)))
      sb.append(s"unique tail $i")
      (i, sb.toString)
    }.toDF("doc_id", "text")
    val ranked = Zstd.dictTrain(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(ranked.length <= 128 && ranked.nonEmpty)
    assert(ranked.map(_._1).toSeq == ranked.indices.map(_.toLong), "dense ranks")
    assert(ranked.sortBy(_._1).map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)),
      "scores nonincreasing by rank")
    // deterministic under repartition
    val again = Zstd.dictTrain(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(ranked.toSeq == again.toSeq)
    val dict = Zstd.assembleDict(Zstd.dictTrain(docs))
    assert(dict.length <= 128 * 64 && dict.length > 0)
    // round trip every doc through the dict pair
    val stats = Zstd.dictSignal(docs, dict).collect()
    assert(stats.length == 300)
    docs.collect().foreach { r =>
      val want = r.getString(1).getBytes(UTF_8)
      val s = stats.find(_.doc_id == r.getLong(0)).get
      var c = 0L
      want.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
      assert(s.n_bytes == want.length && s.checksum == c)
    }
    // the dictionary must strictly beat the no-dict encoder on this corpus
    val texts = docs.select("text").as[String].collect()
    val withDict = texts.map(t => Zstd.compressWithRawDict(t.getBytes(UTF_8), dict).length.toLong).sum
    val without = texts.map(t => Zstd.compress(t.getBytes(UTF_8)).length.toLong).sum
    assert(withDict < without, s"trained dict must win: $withDict vs $without")
  }
}

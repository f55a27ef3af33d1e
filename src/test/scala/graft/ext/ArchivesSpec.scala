package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class ArchivesSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def gunzip1(bytes: Array[Byte]): Option[Array[Byte]] =
    Archives.gunzipAll(bytes, 1 << 20).map(ms => ms.flatten.toArray)

  test("gzip round trip: every header variant decodes to the original bytes") {
    val data = "The quick brown fox jumps over the lazy dog. éèê".getBytes("UTF-8")
    (0 to 3).foreach { variant =>
      val gz = Archives.gzipMember(data, variant, nameId = 421)
      val back = gunzip1(gz)
      assert(back.isDefined && back.get.toSeq == data.toSeq, s"variant $variant")
    }
    // empty input is a legal member (one empty stored block)
    assert(gunzip1(Archives.gzipMember(Array.emptyByteArray, 0, 0)).get.isEmpty)
  }

  test("gzip: multi-member concatenation splits on the inflate end position") {
    val a = "first member".getBytes("UTF-8")
    val b = "second, longer member with more bytes".getBytes("UTF-8")
    val c = Array.emptyByteArray
    val blob = Archives.gzipMember(a, 1, 7) ++ Archives.gzipMember(b, 3, 7) ++ Archives.gzipMember(c, 0, 7)
    val members = Archives.gunzipAll(blob, 1 << 20).get
    assert(members.length == 3)
    assert(members(0).toSeq == a.toSeq && members(1).toSeq == b.toSeq && members(2).isEmpty)
  }

  test("gzip differential: JDK GZIPOutputStream members (real dynamic-Huffman deflate) decode") {
    val rnd = new scala.util.Random(7)
    // repetitive text (LZ77 back-references), random bytes (literal-heavy),
    // and a large input that spans multiple internal deflate blocks
    val payloads = Seq(
      ("lorem ipsum " * 400).getBytes("UTF-8"),
      Array.fill(3000)(rnd.nextInt(256).toByte),
      Array.tabulate(200000)(i => (i % 251).toByte))
    payloads.zipWithIndex.foreach { case (data, i) =>
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(data); gz.close()
      val back = gunzip1(bos.toByteArray)
      assert(back.isDefined && back.get.toSeq == data.toSeq, s"payload $i")
    }
    // two JDK members concatenated — the layout GZIPInputStream itself accepts
    val b1 = { val o = new java.io.ByteArrayOutputStream(); val g = new java.util.zip.GZIPOutputStream(o); g.write(payloads(0)); g.close(); o.toByteArray }
    val b2 = { val o = new java.io.ByteArrayOutputStream(); val g = new java.util.zip.GZIPOutputStream(o); g.write(payloads(1)); g.close(); o.toByteArray }
    val members = Archives.gunzipAll(b1 ++ b2, 1 << 20).get
    assert(members.length == 2)
    assert(members(0).toSeq == payloads(0).toSeq && members(1).toSeq == payloads(1).toSeq)
  }

  test("gzip reverse differential: our members decode through GZIPInputStream, all deflate modes") {
    val data = ("cross-decoder check: our writer, the JDK's reader " * 20).getBytes("UTF-8")
    for (variant <- 0 to 3; method <- 0 to 2) {
      val member = Archives.gzipMember(data, variant, 99, method)
      val in = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(member))
      val back = in.readAllBytes()
      assert(back.toSeq == data.toSeq, s"variant $variant method $method")
      if (method > 0) assert(member.length < data.length / 2, s"method $method must actually compress")
    }
  }

  test("gzip: malformed members drop — magic, CM, reserved bits, CRCs, ISIZE, truncation") {
    val data = "payload under test".getBytes("UTF-8")
    val good = Archives.gzipMember(data, 3, 5) // FHCRC variant: header CRC is live
    assert(gunzip1(good).isDefined)
    def mutated(f: Array[Byte] => Unit): Option[Array[Byte]] = {
      val m = good.clone(); f(m); gunzip1(m)
    }
    assert(mutated(_(0) = 0x1e).isEmpty, "bad magic")
    assert(mutated(_(2) = 9).isEmpty, "non-deflate CM")
    assert(mutated(m => m(3) = (m(3) | 0x20).toByte).isEmpty, "reserved FLG bit")
    assert(mutated(m => m(10) = (m(10) ^ 1).toByte).isEmpty, "FHCRC mismatch")
    assert(mutated(m => m(m.length - 6) = (m(m.length - 6) ^ 1).toByte).isEmpty, "CRC-32 mismatch")
    assert(mutated(m => m(m.length - 2) = (m(m.length - 2) ^ 1).toByte).isEmpty, "ISIZE mismatch")
    assert(gunzip1(good.dropRight(1)).isEmpty, "truncated trailer")
    assert(gunzip1(good.take(12)).isEmpty, "truncated header")
    assert(gunzip1(Array.emptyByteArray).isEmpty, "empty blob")
    // declared-size cap: a member larger than maxOut is malformed, not an OOM
    assert(Archives.gunzipAll(Archives.gzipMember(new Array[Byte](4096), 0, 0), 16).isEmpty)
  }

  test("gunzipStats: closed-form compressed_len matches the real payload; members split") {
    import spark.implicits._
    val docs = Seq(
      (0L, "two members, FNAME-free halves"), // % 5 == 0 and % 4 == 0
      (1L, "single member with FNAME"),
      (2L, "single member with FEXTRA"),
      (3L, "single member with FHCRC"),
      (5L, "two members again, FNAME on the first"), // % 5 == 0, % 4 == 1
      (6L, ""), // empty doc, single member
      (7L, "x" * 70000)) // stored framing spans two 64 KiB blocks
      .toDF("doc_id", "text")
    val enc = Archives.encodeGzipDocs(docs)
    val stats = Archives.gunzipStats(enc).collect().map(s => s.doc_id -> s).toMap
    val real = enc.select("doc_id", "payload").as[(Long, Array[Byte])].collect().toMap
    assert(stats.keySet == Set(0L, 1L, 2L, 3L, 5L, 6L, 7L))
    stats.values.foreach { s =>
      assert(s.compressed_len == real(s.doc_id).length, s"doc ${s.doc_id}")
    }
    assert(stats(0L).n_members == 2 && stats(5L).n_members == 2)
    assert(stats(1L).n_members == 1 && stats(6L).n_members == 1)
    assert(stats(6L).n_bytes == 0 && stats(6L).checksum == 0L)
    assert(stats(7L).n_bytes == 70000)
    // decompressed checksum equals the direct checksum of the text bytes
    val direct = {
      var c = 0L
      "single member with FNAME".getBytes("UTF-8").foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
      c
    }
    assert(stats(1L).checksum == direct)
  }

  test("deflate compressor: JDK Inflater decodes our streams byte-identically") {
    val rnd = new scala.util.Random(11)
    val payloads: Seq[(String, Array[Byte])] = Seq(
      "empty" -> Array.emptyByteArray,
      "one byte" -> Array[Byte](42),
      "two bytes" -> Array[Byte](1, 2),
      "high literals" -> Array.tabulate(600)(i => (255 - i % 120).toByte), // 9-bit code range
      "all equal" -> Array.fill(5000)(7.toByte), // overlapping dist-1 matches, max lengths
      "repetitive text" -> ("the quick brown fox " * 500).getBytes("UTF-8"),
      "random" -> Array.fill(4000)(rnd.nextInt(256).toByte), // literal-heavy
      "period 300" -> Array.tabulate(3000)(i => ((i / 300) * 31 + i % 300).toByte),
      "long-range match" -> {
        val a = Array.fill(40000)(rnd.nextInt(256).toByte)
        System.arraycopy(a, 0, a, 30000, 8000) // distance-30000 matches near the window edge
        a
      },
      "beyond window" -> Array.tabulate(90000)(i => (i % 7).toByte))
    for ((name, data) <- payloads; (mode, compress) <- Seq(
        ("fixed", Multimodal.deflateFixed(_)), ("dynamic", Multimodal.deflateDynamic(_)))) {
      val comp = compress(data)
      val inf = new java.util.zip.Inflater(true) // nowrap: raw deflate
      inf.setInput(comp)
      val buf = new Array[Byte](data.length + 16)
      val m = inf.inflate(buf)
      assert(inf.finished(), s"$name/$mode: stream must terminate")
      assert(m == data.length && buf.take(m).toSeq == data.toSeq, s"$name/$mode: JDK decode mismatch")
      inf.end()
      // and through our own inflate
      val back = Multimodal.inflate(comp, 0, comp.length, math.max(data.length, 16))
      assert(back.toSeq == data.toSeq, s"$name/$mode: self decode mismatch")
    }
    // real compression on repetitive input, bounded expansion on random input
    val rep = Multimodal.deflateFixed(("lorem ipsum " * 1000).getBytes("UTF-8"))
    assert(rep.length < 2000, s"repetitive text must compress (got ${rep.length} from 12000)")
    val rnd2 = Array.fill(4096)(rnd.nextInt(256).toByte)
    val worst = Multimodal.deflateFixed(rnd2)
    assert(worst.length < 4096 * 9 / 8 + 16, "fixed-Huffman expansion bound")
    // the dynamic tree should beat fixed codes on skewed text, and hold
    // its own (header included) on the literal-heavy random payload
    val skewed = ("aaaaaab" * 2000).getBytes("UTF-8")
    assert(Multimodal.deflateDynamic(skewed).length < Multimodal.deflateFixed(skewed).length)
    assert(Multimodal.deflateDynamic(rnd2).length < 4096 + 128, "dynamic stays near 8 bits/literal on random input")
  }

  test("compressionSignal: decoded stats match the source; ratio separates repetition from noise") {
    import spark.implicits._
    val rnd = new scala.util.Random(3)
    val noisy = new String(Array.fill(2000)(('a' + rnd.nextInt(26)).toChar))
    val docs = Seq(
      (0L, "boilerplate " * 300),
      (1L, noisy),
      (2L, "")).toDF("doc_id", "text")
    val sig = Archives.compressionSignal(docs).collect().map(s => s.doc_id -> s).toMap
    assert(sig(0L).n_bytes == ("boilerplate " * 300).getBytes("UTF-8").length)
    assert(sig(0L).ratio < 0.2, s"boilerplate ratio ${sig(0L).ratio}")
    assert(sig(1L).ratio > 0.5, s"random-letter ratio ${sig(1L).ratio}")
    assert(sig(0L).ratio < sig(1L).ratio)
    assert(sig(2L).n_bytes == 0 && sig(2L).checksum == 0L)
    val direct = {
      var c = 0L
      ("boilerplate " * 300).getBytes("UTF-8").foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
      c
    }
    assert(sig(0L).checksum == direct)
  }

  test("warc: archives round-trip — record order, ids, lengths, body checksums") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"document $i body ☃" * (i.toInt % 3 + 1))).toDF("doc_id", "text")
    val entries = Archives.warcExtract(Archives.encodeWarcArchives(docs, nArchives = 4))
      .collect().sortBy(e => (e.archive_id, e.rec_idx))
    assert(entries.length == 40)
    entries.foreach { e =>
      assert(e.rec_doc_id % 4 == e.archive_id)
      assert(e.rec_doc_id == e.archive_id + 4 * e.rec_idx) // id order within archive
      val body = s"document ${e.rec_doc_id} body ☃" * (e.rec_doc_id.toInt % 3 + 1)
      assert(e.content_length == body.getBytes("UTF-8").length)
    }
  }

  test("warc: a malformed record or member drops its whole archive, others survive") {
    import spark.implicits._
    val docs = (0L until 8L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val archives = Archives.encodeWarcArchives(docs, nArchives = 2)
      .as[(Long, Array[Byte])].collect().toMap
    // corrupt one byte inside archive 0's first member's deflate body
    val broken = archives(0L).clone()
    broken(14) = (broken(14) ^ 0x55).toByte
    val mixed = Seq((0L, broken), (1L, archives(1L))).toDF("archive_id", "payload")
    val entries = Archives.warcExtract(mixed).collect()
    assert(entries.forall(_.archive_id == 1L))
    assert(entries.length == 4)
    // a structurally-valid gzip member that is not a WARC record also drops
    val notWarc = Archives.gzipMember("HTTP/1.1 200 OK\r\n\r\n".getBytes("UTF-8"), 0, 0)
    val bad = Seq((2L, notWarc)).toDF("archive_id", "payload")
    assert(Archives.warcExtract(bad).collect().isEmpty)
  }

  test("warc http: both wire framings round-trip — chunked and Content-Length") {
    import spark.implicits._
    // even ids -> chunked (with >1 chunk when body > 100 bytes), odd -> Content-Length
    val docs = Seq(
      (0L, "chunked body " * 20),  // 260 bytes: three chunks
      (1L, "content-length body"),
      (2L, "short"),               // single chunk
      (3L, ""),                    // empty CL body
      (4L, "")).toDF("doc_id", "text") // empty chunked body: terminator only
    val entries = Archives.warcHttpExtract(Archives.encodeWarcHttpArchives(docs, nArchives = 2))
      .collect().map(e => e.rec_doc_id -> e).toMap
    assert(entries.keySet == Set(0L, 1L, 2L, 3L, 4L))
    entries.values.foreach { e =>
      assert(e.http_status == 200L)
      assert(e.content_type == "text/plain; charset=utf-8")
    }
    assert(entries(0L).body_len == ("chunked body " * 20).getBytes("UTF-8").length)
    assert(entries(3L).body_len == 0 && entries(3L).checksum == 0L)
    assert(entries(4L).body_len == 0 && entries(4L).checksum == 0L)
    // checksum equals the direct base-31 over the body bytes
    val direct = {
      var c = 0L
      "content-length body".getBytes("UTF-8").foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
      c
    }
    assert(entries(1L).checksum == direct)
  }

  test("warc http: chunked parser accepts extensions and uppercase hex, rejects damage") {
    import spark.implicits._
    def archiveOf(msg: String, id: Long = 8L): org.apache.spark.sql.DataFrame = {
      val body = msg.getBytes("UTF-8")
      val rec = (s"WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        s"WARC-Target-URI: http://example.com/doc/$id\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${body.length}\r\n" +
        "\r\n").getBytes("UTF-8") ++ body ++ "\r\n\r\n".getBytes("UTF-8")
      Seq((id, Archives.gzipMember(rec, 0, id))).toDF("archive_id", "payload")
    }
    val head = "HTTP/1.1 200 OK\r\nContent-Type: text/x\r\nTransfer-Encoding: chunked\r\n\r\n"
    // chunk extension + uppercase hex both accepted: body "ABCDEFGHIJKLMNOP" as 0xA + 6
    val fancy = head + "A;name=value\r\nABCDEFGHIJ\r\n6\r\nKLMNOP\r\n0\r\n\r\n"
    val ok = Archives.warcHttpExtract(archiveOf(fancy)).collect()
    assert(ok.length == 1 && ok(0).body_len == 16 && ok(0).content_type == "text/x")
    // wrong chunk size: terminator lands mid-bytes
    assert(Archives.warcHttpExtract(archiveOf(head + "B\r\nABCDEFGHIJ\r\n0\r\n\r\n")).collect().isEmpty)
    // missing chunk CRLF
    assert(Archives.warcHttpExtract(archiveOf(head + "A\r\nABCDEFGHIJ6\r\nKLMNOP\r\n0\r\n\r\n")).collect().isEmpty)
    // missing zero-chunk terminator
    assert(Archives.warcHttpExtract(archiveOf(head + "A\r\nABCDEFGHIJ\r\n")).collect().isEmpty)
    // garbage size line
    assert(Archives.warcHttpExtract(archiveOf(head + "xyz\r\nABCDEFGHIJ\r\n0\r\n\r\n")).collect().isEmpty)
    // Content-Length framing must cover the remainder exactly
    assert(Archives.warcHttpExtract(
      archiveOf("HTTP/1.1 200 OK\r\nContent-Type: text/x\r\nContent-Length: 3\r\n\r\nabcd")).collect().isEmpty)
    // bad status line
    assert(Archives.warcHttpExtract(
      archiveOf("HTTP/2 OK\r\nContent-Length: 2\r\n\r\nab")).collect().isEmpty)
  }

  test("warc http content codings: gzip/deflate/br bodies decode under both framings") {
    import spark.implicits._
    // ids 0..7 cycle all 8 framing x coding combos: framing = id % 2
    // (even chunked), coding = (id / 2) % 4 (identity, gzip, deflate, br)
    val docs = (0L to 15L).map(i => (i, s"body of document $i, " * (5 + i.toInt))).toDF("doc_id", "text")
    val entries = Archives.warcHttpEncExtract(
      Archives.encodeWarcHttpEncodedArchives(docs, nArchives = 3))
      .collect().map(e => e.rec_doc_id -> e).toMap
    assert(entries.keySet == (0L to 15L).toSet)
    (0L to 15L).foreach { i =>
      val e = entries(i)
      val want = (s"body of document $i, " * (5 + i.toInt)).getBytes("UTF-8")
      assert(e.body_len == want.length, s"doc $i decoded length")
      var c = 0L
      want.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
      assert(e.checksum == c, s"doc $i decoded checksum (coding ${(i / 2) % 4}, chunked ${i % 2 == 0})")
      assert(e.content_encoding == Seq("", "gzip", "deflate", "br")(((i / 2) % 4).toInt))
    }
  }

  test("warc http content codings: damaged or unknown codings quarantine the archive") {
    import spark.implicits._
    def archiveOf(msg: Array[Byte], id: Long = 9L): org.apache.spark.sql.DataFrame = {
      val rec = (s"WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        s"WARC-Target-URI: http://example.com/doc/$id\r\n" +
        "Content-Type: application/http; msgtype=response\r\n" +
        s"Content-Length: ${msg.length}\r\n" +
        "\r\n").getBytes("UTF-8") ++ msg ++ "\r\n\r\n".getBytes("UTF-8")
      Seq((id, Archives.gzipMember(rec, 0, id))).toDF("archive_id", "payload")
    }
    def msgOf(headers: String, payload: Array[Byte]): Array[Byte] =
      (s"HTTP/1.1 200 OK\r\nContent-Type: text/x\r\n$headers" +
        s"Content-Length: ${payload.length}\r\n\r\n").getBytes("UTF-8") ++ payload
    val body = ("compressible payload " * 10).getBytes("UTF-8")
    val gz = Archives.gzipMember(body, 0, 9L, method = 2)
    // intact gzip coding decodes
    val ok = Archives.warcHttpEncExtract(archiveOf(msgOf("Content-Encoding: gzip\r\n", gz))).collect()
    assert(ok.length == 1 && ok(0).body_len == body.length)
    // flipped byte inside the member: CRC fails, archive drops
    val bad = gz.clone(); bad(bad.length / 2) = (bad(bad.length / 2) ^ 0x11).toByte
    assert(Archives.warcHttpEncExtract(archiveOf(msgOf("Content-Encoding: gzip\r\n", bad))).collect().isEmpty)
    // trailing garbage after the single member: not exactly one member
    assert(Archives.warcHttpEncExtract(
      archiveOf(msgOf("Content-Encoding: gzip\r\n", gz ++ Array[Byte](0)))).collect().isEmpty)
    // gzip declared but identity bytes sent
    assert(Archives.warcHttpEncExtract(
      archiveOf(msgOf("Content-Encoding: gzip\r\n", body))).collect().isEmpty)
    // intact br coding decodes through the RFC 7932 decoder
    val brOk = Archives.warcHttpEncExtract(
      archiveOf(msgOf("Content-Encoding: br\r\n", graft.ext.Brotli.compressRaw(body)))).collect()
    assert(brOk.length == 1 && brOk(0).body_len == body.length)
    // truncated br stream: strict decode fails, archive drops
    assert(Archives.warcHttpEncExtract(
      archiveOf(msgOf("Content-Encoding: br\r\n",
        graft.ext.Brotli.compressRaw(body).dropRight(1)))).collect().isEmpty)
    // unknown coding quarantines
    assert(Archives.warcHttpEncExtract(
      archiveOf(msgOf("Content-Encoding: zstd\r\n", body))).collect().isEmpty)
    // a six-record archive (ids cycle all four coding arms) with one byte
    // flipped mid-stream drops whole; its neighbour decodes in full
    val texts = (0L until 12L).map(i => (i, s"coded streamed document $i with some body text"))
    val coded = Archives.encodeWarcHttpEncodedArchives(texts.toDF("doc_id", "text"), nArchives = 2)
      .as[(Long, Array[Byte])].collect().map { case (aid, p) =>
        if (aid == 1L) { val q = p.clone(); q(q.length / 2) = (q(q.length / 2) ^ 0x7f).toByte; (aid, q) }
        else (aid, p)
      }
    val left = Archives.warcHttpEncExtract(coded.toSeq.toDF("archive_id", "payload")).collect()
    assert(left.map(_.archive_id).toSet == Set(0L) && left.length == 6)
    assert(left.map(_.body_len).sum ==
      texts.collect { case (i, t) if i % 2 == 0 => t.getBytes("UTF-8").length.toLong }.sum,
      "decoded, not on-the-wire, body lengths")
  }

  test("codec fuzz: corrupted and truncated streams across all four new codecs fail cleanly") {
    val rnd = new scala.util.Random(67)
    val data = ("fuzz corpus with structure structure structure and some entropy " +
      rnd.alphanumeric.take(500).mkString).getBytes("UTF-8")
    // (name, encode, strictDecode) — strict decoders throw on damage;
    // gunzip returns Option. Every mutation must either fail cleanly or
    // decode to EXACTLY the original (a benign flip in ignored bytes).
    def tryDecode(name: String, bytes: Array[Byte]): Option[Array[Byte]] = name match {
      case "gzip" => Archives.gunzipAll(bytes, 1 << 20).map(_.flatten.toArray)
      case "snappy" => try Some(Snappy.decompress(bytes, 1 << 20)) catch { case _: RuntimeException => None }
      case "lz4" => try Some(Lz4.decompress(bytes, data.length)) catch { case _: RuntimeException => None }
      case _ => try Some(Rans.decompress(bytes, 1 << 20)) catch { case _: RuntimeException => None }
    }
    val encoded = Map(
      "gzip" -> Archives.gzipMember(data, 3, 1, method = 2),
      "snappy" -> Snappy.compress(data),
      "lz4" -> Lz4.compress(data),
      "rans" -> Rans.compress(data))
    // gzip carries a real CRC-32, so it can NEVER decode damaged bytes to
    // wrong output; snappy/lz4 raw blocks have no checksum by design, and
    // rANS's state-returns-to-L check is strong but not a payload CRC —
    // those only have to fail CLEANLY
    val checksummed = Set("gzip")
    encoded.foreach { case (name, good) =>
      assert(tryDecode(name, good).exists(_.sameElements(data)), s"$name: baseline decode")
      (0 until 300).foreach { k =>
        val mutated = good.clone()
        rnd.nextInt(3) match {
          case 0 => // single byte flip
            val i = rnd.nextInt(mutated.length)
            mutated(i) = (mutated(i) ^ (1 << rnd.nextInt(8))).toByte
          case 1 => // random splice
            val i = rnd.nextInt(mutated.length)
            mutated(i) = rnd.nextInt(256).toByte
          case _ => ()
        }
        val bytes = if (rnd.nextBoolean()) mutated.take(rnd.nextInt(mutated.length + 1)) else mutated
        val out = tryDecode(name, bytes) // must not throw non-RuntimeException / OOB / hang
        if (checksummed(name) && !java.util.Arrays.equals(bytes, good))
          out.foreach { back =>
            assert(back.sameElements(data),
              s"$name case $k: integrity check passed on damaged stream with altered output")
          }
      }
    }
  }

  test("warc: record parser rejects tampered Content-Length and terminators") {
    import spark.implicits._
    // hand-build an archive whose record declares a short Content-Length:
    // the terminator is then misplaced and the record must drop
    val body = "abcdefgh"
    val rec = ("WARC/1.0\r\n" +
      "WARC-Type: response\r\n" +
      "WARC-Target-URI: http://example.com/doc/9\r\n" +
      s"Content-Length: ${body.length - 2}\r\n" +
      "\r\n" + body + "\r\n\r\n").getBytes("UTF-8")
    val archive = Seq((9L, Archives.gzipMember(rec, 0, 9))).toDF("archive_id", "payload")
    assert(Archives.warcExtract(archive).collect().isEmpty)
  }

  test("charset composition: seven-layer extract agrees with the standalone charset gate") {
    import spark.implicits._
    val docs = (0L until 48L).map(i => (i, s"body $i")).toDF("doc_id", "text")
    val composed = Archives.warcHttpCharsetExtract(
      Archives.encodeWarcHttpCharsetArchives(docs, nArchives = 4)).collect()
      .map(e => e.rec_doc_id -> (e.detected, e.source, e.n_bytes_out, e.checksum)).toMap
    val standalone = Charset.charsetSignal(Charset.encodeCharsetDocs(docs)).collect()
      .map(s => s.doc_id -> (s.detected, s.source, s.n_bytes_out, s.checksum)).toMap
    assert(composed.keySet == standalone.keySet && composed.keySet == (0L until 48L).toSet)
    composed.foreach { case (id, v) => assert(v == standalone(id), s"doc $id") }
    // every source tier survives the six framing layers (BOM lives in
    // the coded payload, header in HTTP, meta in the decoded body)
    val sources = composed.values.map(_._2).toSet
    assert(sources == Set("bom", "header", "meta", "default"), sources)
  }

  test("charset composition: damage in any layer quarantines the archive whole") {
    import spark.implicits._
    val docs = (0L until 48L).map(i => (i, s"body $i")).toDF("doc_id", "text")
    val archives = Archives.encodeWarcHttpCharsetArchives(docs, nArchives = 4)
      .as[(Long, Array[Byte])].collect()
    val damaged = archives.map { case (aid, p) =>
      if (aid == 1L) {
        // a 16-byte burst: a single flipped byte can land in a gzip
        // MTIME/FNAME field the format legitimately ignores; a burst
        // cannot miss the member's CRC-covered stream
        val m = p.clone()
        for (k <- 0 until 16) m(m.length / 3 + k) = (m(m.length / 3 + k) ^ 0x55).toByte
        (aid, m)
      } else (aid, p)
    }
    val left = Archives.warcHttpCharsetExtract(
      damaged.toSeq.toDF("archive_id", "payload")).collect()
    assert(left.forall(_.archive_id != 1L) && left.length == 36)
  }

  test("wetConvert: conversion segments are real warc.gz; text plane exact; damage drops the segment") {
    import spark.implicits._
    val docs = (0L until 40L).map(i => (i, s"wet plane doc $i with <b>markup</b> & entities"))
      .toDF("doc_id", "text")
    val html = Html.encodeHtmlDocs(docs)
    val responses = Archives.encodeWarcHttpArchives(html, nArchives = 4, textCol = "html")
    val wet = Archives.wetConvert(responses)
    // the standard reader ingests the WET output unchanged, and the
    // recovered text plane is byte-exact the SOURCE text (the html
    // layer is identity-recovering)
    val entries = Archives.warcExtract(wet).collect()
    assert(entries.length == 40)
    entries.foreach { e =>
      val text = s"wet plane doc ${e.rec_doc_id} with <b>markup</b> & entities"
      val tb = text.getBytes("UTF-8")
      var c = 0L
      tb.foreach(x => c = (c * 31 + (x & 0xff)) % 1000000007L)
      assert(e.content_length == tb.length && e.checksum == c, s"doc ${e.rec_doc_id}")
    }
    // the records really are WARC conversion records
    val blob = wet.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload"))).toMap
    val first = new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(blob(0L)))
    val head = new Array[Byte](64)
    var got = 0
    while (got < 64) { val n = first.read(head, got, 64 - got); if (n < 0) got = 64 else got += n }
    assert(new String(head, "UTF-8").contains("WARC-Type: conversion"))
    // a damaged response segment converts to NOTHING (never half a segment)
    val rows = responses.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload")))
    val damaged = rows.map { case (aid, p) =>
      if (aid == 2L) { val q = p.clone(); q(q.length / 2) = (q(q.length / 2) ^ 0x3c).toByte; (aid, q) }
      else (aid, p)
    }.toSeq.toDF("archive_id", "payload")
    val after = Archives.warcExtract(Archives.wetConvert(damaged)).collect()
    assert(!after.exists(_.archive_id == 2L) && after.length == 30)
  }
}

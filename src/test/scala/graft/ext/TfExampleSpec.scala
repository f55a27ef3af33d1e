package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** The from-scratch protobuf wire layer under tf.Example, with the wire
  * bytes differentialed against protobuf's own CodedOutputStream (the
  * runtime Spark ships — shaded under org.sparkproject, test-only).
  */
class TfExampleSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  import org.sparkproject.spark_core.protobuf.CodedOutputStream

  private def coded(build: CodedOutputStream => Unit): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val c = CodedOutputStream.newInstance(bos)
    build(c)
    c.flush()
    bos.toByteArray
  }

  test("varints and tags: byte-identical to CodedOutputStream") {
    for (v <- Seq(0L, 1L, 127L, 128L, 300L, 16383L, 16384L, (1L << 35) + 7, Long.MaxValue)) {
      val ours = {
        val o = new java.io.ByteArrayOutputStream()
        Bits.writeUvarint(o, v)
        o.toByteArray
      }
      assert(ours.sameElements(coded(_.writeUInt64NoTag(v))), s"varint $v")
    }
    // a full length-delimited field: tag + len + payload
    val payload = "wire bytes".getBytes("UTF-8")
    val oursField = {
      val o = new java.io.ByteArrayOutputStream()
      Bits.writeUvarint(o, (7L << 3) | 2L)
      Bits.writeUvarint(o, payload.length.toLong)
      o.write(payload, 0, payload.length)
      o.toByteArray
    }
    assert(oursField.sameElements(coded(_.writeByteArray(7, payload))))
  }

  test("our parser reads a CodedOutputStream-built Example") {
    // build the same shape exampleFor produces, through the library:
    // Example{features{entry{key,Feature{Int64List packed}} entry{key,Feature{BytesList}}}}
    def lenDelim(field: Int, body: Array[Byte]): Array[Byte] =
      coded { c => c.writeByteArray(field, body) }
    val int64List = lenDelim(1, coded(_.writeUInt64NoTag(42L))) // packed run
    val fDocId = lenDelim(3, int64List)
    val text = "library plane".getBytes("UTF-8")
    val fText = lenDelim(1, lenDelim(1, text))
    val entries =
      lenDelim(1, lenDelim(1, "doc_id".getBytes("UTF-8")) ++ lenDelim(2, fDocId)) ++
      lenDelim(1, lenDelim(1, "text".getBytes("UTF-8")) ++ lenDelim(2, fText))
    val example = lenDelim(1, entries)
    val feats = TfExample.parseExample(example, 0, example.length)
    assert(feats("doc_id").int64s == Seq(42L))
    assert(feats("text").nBytes == text.length)
    var c = 0L
    text.foreach(b => c = (c * 31 + (b & 0xff)) % 1000000007L)
    assert(feats("text").checksum == c)
  }

  test("packed and unpacked int64 lists parse identically; unknown fields skip") {
    for (id <- Seq(3L, 4L)) { // 3 % 3 == 0 -> unpacked; 4 -> packed
      val ex = TfExample.exampleFor(id, "body")
      val feats = TfExample.parseExample(ex, 0, ex.length)
      assert(feats("tokens").int64s == TfExample.tokensFor(id), s"id $id")
      assert(feats.size == 4, "the planted unknown field must not surface")
      assert(feats("score").floatBits == Seq(TfExample.scoreBitsFor(id)))
    }
  }

  test("end-to-end: shards of examples recover the closed-form plane; damage quarantines") {
    import spark.implicits._
    val docs = (0L until 120L).map(i => (i, s"example body $i " * (1 + (i % 4).toInt))).toDF("doc_id", "text")
    val arch = TfExample.encodeTfExampleArchives(docs, nArchives = 4)
    val out = TfExample.tfExampleExtract(arch).collect()
    assert(out.length == 120)
    out.foreach { r =>
      val text = s"example body ${r.doc_id} " * (1 + (r.doc_id % 4).toInt)
      val tb = text.getBytes("UTF-8")
      var c = 0L
      tb.foreach(x => c = (c * 31 + (x & 0xff)) % 1000000007L)
      assert(r.n_text_bytes == tb.length && r.text_checksum == c, s"doc ${r.doc_id} text")
      assert(r.n_tokens == 1 + r.doc_id % 8 && r.tokens_sum == TfExample.tokensFor(r.doc_id).sum)
      assert(r.score_bits == (TfExample.scoreBitsFor(r.doc_id).toLong & 0xffffffffL))
      assert(r.n_features == 4)
    }
    // proto-plane damage inside a VALID frame: flip a payload byte AND
    // refresh the data CRC so only the proto parse can catch it? No -
    // the honest contract is framing-first: flip the byte, CRC fails,
    // shard quarantines. Separately, a structurally-broken proto in a
    // valid frame must also quarantine:
    val rows = arch.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload")))
    val brokenProto = {
      val out2 = new java.io.ByteArrayOutputStream()
      TfRecord.writeRecord(out2, Array[Byte](0x0a, 0x7f)) // declares 127 bytes, has none
      out2.toByteArray
    }
    val damaged = rows.map { case (aid, p) => if (aid == 1L) (aid, brokenProto) else (aid, p) }
      .toSeq.toDF("archive_id", "payload")
    val after = TfExample.tfExampleExtract(damaged).collect()
    assert(!after.exists(_.archive_id == 1L) && after.length == 90)
    val again = TfExample.tfExampleExtract(
      TfExample.encodeTfExampleArchives(docs.repartition(7), nArchives = 4)).collect()
    assert(again.map(r => (r.doc_id, r.text_checksum)).sorted.toSeq ==
      out.map(r => (r.doc_id, r.text_checksum)).sorted.toSeq)
  }
}

package graft.ext

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

class TfRecordSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("crc32c: differential against java.util.zip.CRC32C across sizes and offsets") {
    val r = new scala.util.Random(0xc32cL)
    for (len <- Seq(0, 1, 7, 8, 255, 256, 4096, 100000)) {
      val data = Array.fill(len + 16)(r.nextInt(256).toByte)
      for (from <- Seq(0, 3, 16)) {
        val jdk = new java.util.zip.CRC32C
        jdk.update(data, from, len)
        assert(Bits.crc32c(data, from, from + len) == jdk.getValue.toInt,
          s"len=$len from=$from")
      }
    }
  }

  test("mask round-trips and matches the published transform") {
    val r = new scala.util.Random(0xa282L)
    for (_ <- 0 until 1000) {
      val crc = r.nextInt()
      assert(TfRecord.unmask(TfRecord.mask(crc)) == crc)
    }
    // the documented example transform: mask(x) = ((x>>>15)|(x<<17)) + 0xa282ead8
    assert(TfRecord.mask(0) == 0xa282ead8)
  }

  test("framing: record layout is byte-exact (lengths, both crcs, order)") {
    val payload = "tfrecord payload bytes".getBytes("UTF-8")
    val out = new java.io.ByteArrayOutputStream()
    TfRecord.writeRecord(out, payload)
    val b = out.toByteArray
    assert(b.length == 12 + payload.length + 4)
    // u64 LE length
    val len = (0 until 8).map(i => (b(i) & 0xffL) << (8 * i)).sum
    assert(len == payload.length)
    // payload bytes verbatim
    assert(b.slice(12, 12 + payload.length).sameElements(payload))
    // both crcs verify through the jdk
    val jdk = new java.util.zip.CRC32C
    jdk.update(b, 0, 8)
    val maskedLen = (8 until 12).map(i => (b(i) & 0xff) << (8 * (i - 8))).sum
    assert(TfRecord.unmask(maskedLen) == jdk.getValue.toInt)
  }

  test("end-to-end: shards recover all records; every damage class quarantines its shard only") {
    import spark.implicits._
    val docs = (0L until 120L).map(i => (i, s"doc $i body " * (1 + (i % 5).toInt))).toDF("doc_id", "text")
    val arch = TfRecord.encodeTfrecordArchives(docs, nArchives = 4)
    val entries = TfRecord.tfrecordExtract(arch).collect()
    assert(entries.length == 120)
    assert(entries.map(_.rec_doc_id).sorted.toSeq == (0L until 120L).toSeq)
    entries.foreach { e =>
      val text = s"doc ${e.rec_doc_id} body " * (1 + (e.rec_doc_id % 5).toInt)
      val bytes = text.getBytes("UTF-8")
      var c = 0L
      bytes.foreach(x => c = (c * 31 + (x & 0xff)) % 1000000007L)
      assert(e.n_bytes == bytes.length && e.checksum == c, s"doc ${e.rec_doc_id}")
    }
    val rows = arch.collect().map(r => (r.getLong(0), r.getAs[Array[Byte]]("payload")))
    // damage classes: payload bit flip, length-field flip, truncation
    for ((name, mut) <- Seq[(String, Array[Byte] => Array[Byte])](
      ("payload flip", p => { val q = p.clone(); q(q.length / 2) = (q(q.length / 2) ^ 1).toByte; q }),
      ("length flip", p => { val q = p.clone(); q(0) = (q(0) ^ 1).toByte; q }),
      ("truncation", p => p.take(p.length - 2)))) {
      val damaged = rows.map { case (aid, p) => if (aid == 1L) (aid, mut(p)) else (aid, p) }
        .toSeq.toDF("archive_id", "payload")
      val after = TfRecord.tfrecordExtract(damaged).collect()
      assert(!after.exists(_.archive_id == 1L), s"$name: damaged shard quarantined")
      assert(after.length == 90, s"$name: other shards unharmed")
    }
    // partition stability
    val again = TfRecord.tfrecordExtract(
      TfRecord.encodeTfrecordArchives(docs.repartition(7), nArchives = 4)).collect()
    assert(again.map(e => (e.rec_doc_id, e.checksum)).sorted.toSeq ==
      entries.map(e => (e.rec_doc_id, e.checksum)).sorted.toSeq)
  }

  test("hostile length does not allocate; cap enforced before any array work") {
    val out = new java.io.ByteArrayOutputStream()
    // frame claiming a 2^40-byte record
    def w32(v: Int): Unit = { out.write(v & 0xff); out.write((v >>> 8) & 0xff); out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff) }
    w32(0); w32(256) // length = 2^40
    w32(0); w32(0) // garbage crcs
    assert(TfRecord.tfrecordExtract(
      spark.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(0L, out.toByteArray)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("archive_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("payload", org.apache.spark.sql.types.BinaryType))))
    ).collect().isEmpty)
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== TFRecord — the ML-native record container ========
  *
  * The format training pipelines actually feed from: a TFRecord file is
  * a flat sequence of length-framed records, each protected twice —
  *
  *   [ length  : u64 LE ][ masked_crc32c(length bytes) : u32 LE ]
  *   [ payload : length ][ masked_crc32c(payload)      : u32 LE ]
  *
  * with CRC-32C (Castagnoli, the JDK's `CRC32C` via [[Bits.crc32c]])
  * and the mask `((crc >>> 15) | (crc << 17)) + 0xa282ead8` that guards
  * against CRCs of CRCs. Both directions are written here: the masking
  * and the framing. The
  * reader verifies BOTH checksums per record; any mismatch, a
  * truncated frame, or a hostile length quarantines the archive whole
  * — the convention every container family here shares. Payload
  * `"<doc_id>\n" + text` mirrors [[Zstd.encodeZstArchives]] so the
  * oracle shape is the zst/bz2/xz one.
  *
  * Scale shape: map-only demux per archive; at 100 TB a TFRecord shard
  * is the unit a data loader requests, and this reader is the
  * validation pass in front of it.
  *
  * No reference citation — the reference has no ingest path;
  * north-star scope.
  */
object TfRecord {

  /** The TFRecord mask: rotate right 15, add the magic. */
  private[ext] def mask(crc: Int): Int =
    ((crc >>> 15) | (crc << 17)) + 0xa282ead8

  private[ext] def unmask(masked: Int): Int = {
    val rot = masked - 0xa282ead8
    (rot << 15) | (rot >>> 17)
  }

  // ------------------------------------------------------------- writer

  private def w32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >>> 8) & 0xff)
    out.write((v >>> 16) & 0xff); out.write((v >>> 24) & 0xff)
  }

  private def w64(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    w32(out, (v & 0xffffffffL).toInt); w32(out, (v >>> 32).toInt)
  }

  private[ext] def writeRecord(out: java.io.ByteArrayOutputStream, payload: Array[Byte]): Unit = {
    val lenBytes = new java.io.ByteArrayOutputStream(8)
    w64(lenBytes, payload.length.toLong)
    val lb = lenBytes.toByteArray
    w64(out, payload.length.toLong)
    w32(out, mask(Bits.crc32c(lb, 0, 8)))
    out.write(payload, 0, payload.length)
    w32(out, mask(Bits.crc32c(payload, 0, payload.length)))
  }

  /** Documents grouped into 16 TFRecord shards (id % 16, records in id
    * order), payload `"<doc_id>\n" + text` — the shared archive fixture
    * convention.
    */
  def encodeTfrecordArchives(docs: DataFrame, nArchives: Int = 16,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull && col(idCol) >= 0 && col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .groupByKey(_._1 % nArchives)
      .mapGroups { (aid, it) =>
        val recs = it.toArray.sortBy(_._1)
        val out = new java.io.ByteArrayOutputStream()
        recs.foreach { case (id, text) =>
          writeRecord(out, (id.toString + "\n" + text).getBytes(java.nio.charset.StandardCharsets.UTF_8))
        }
        (aid, out.toByteArray)
      }
      .toDF("archive_id", "payload")
  }

  // ------------------------------------------------------------- reader

  private final class MalformedTfRecord
      extends RuntimeException("malformed tfrecord", null, false, false)
  private def fail(): Nothing = throw new MalformedTfRecord

  final case class TfEntry(
      archive_id: Long, rec_idx: Long, rec_doc_id: Long, n_bytes: Long, checksum: Long)

  private def u32(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  /** The framing layer alone: verified payload spans, in file order —
    * what [[TfExample]] composes the proto plane onto.
    */
  private[ext] def demuxPayloads(b: Array[Byte], maxRecordBytes: Int): Vector[(Int, Int)] = {
    val spans = Vector.newBuilder[(Int, Int)]
    var p = 0
    while (p < b.length) {
      if (p + 12 > b.length) fail() // truncated frame header
      val lenLo = u32(b, p).toLong & 0xffffffffL
      val lenHi = u32(b, p + 4).toLong & 0xffffffffL
      val len = lenLo | (lenHi << 32)
      if (len < 0 || len > maxRecordBytes) fail() // hostile length
      if (unmask(u32(b, p + 8)) != Bits.crc32c(b, p, p + 8)) fail() // length crc
      val dataStart = p + 12
      val dataEnd = dataStart + len.toInt
      if (dataEnd + 4 > b.length) fail() // truncated payload
      if (unmask(u32(b, dataEnd)) != Bits.crc32c(b, dataStart, dataEnd)) fail() // data crc
      spans += ((dataStart, dataEnd))
      p = dataEnd + 4
    }
    spans.result()
  }

  private[ext] def demux(aid: Long, b: Array[Byte], maxRecordBytes: Int): Vector[TfEntry] = {
    demuxPayloads(b, maxRecordBytes).zipWithIndex.map { case ((dataStart, dataEnd), recIdx) =>
      // payload: "<doc_id>\n" + text
      var nl = dataStart
      while (nl < dataEnd && b(nl) != '\n') nl += 1
      if (nl >= dataEnd) fail()
      val id = new String(b, dataStart, nl - dataStart, java.nio.charset.StandardCharsets.UTF_8).toLong
      var c = 0L
      var i = nl + 1
      while (i < dataEnd) { c = (c * 31 + (b(i) & 0xff)) % 1000000007L; i += 1 }
      TfEntry(aid, recIdx.toLong, id, (dataEnd - nl - 1).toLong, c)
    }
  }

  /** The ingest gate: demux shards, verify every frame's BOTH CRCs,
    * reduce records to the oracle's integers; damage quarantines whole.
    */
  def tfrecordExtract(archives: DataFrame, maxRecordBytes: Int = 1 << 26): Dataset[TfEntry] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, payload) =>
        try demux(aid, payload, maxRecordBytes)
        catch { case scala.util.control.NonFatal(_) => Vector.empty } // quarantine
      }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== tf.Example over TFRecord — the ML shard payload ========
  *
  * Real training shards are not raw text: the bytes inside a TFRecord
  * frame are `tf.Example` protobufs — a features map of named
  * `BytesList`/`FloatList`/`Int64List` values. Reading a production
  * shard therefore needs the protobuf WIRE FORMAT, implemented from
  * scratch here and composed under [[TfRecord]]'s double-CRC framing:
  *
  *  - varints (base-128 LE continuation — protobuf's flavor, next to
  *    the xz VLI, Avro zigzag, and 7z first-byte-mask schemes already
  *    in house), tags `(field << 3) | wire`, wire types 0/1/2/5,
  *    groups (3/4) rejected as malformed;
  *  - unknown fields SKIPPED by wire type (the proto compatibility
  *    rule — the fixture plants one inside Features to pin it);
  *  - nested length-delimited messages (Example → Features → map
  *    entry → Feature → value list), every declared length bounds-
  *    checked against its enclosure;
  *  - repeated int64 accepted in BOTH encodings — packed (one
  *    length-delimited run of varints) and unpacked (one varint field
  *    per value) — as the spec requires of parsers; the fixture
  *    cycles both arms;
  *  - floats handled purely in BIT space (4 LE bytes → Int bits, no
  *    float arithmetic anywhere), so the gate stays bitwise.
  *
  * The differential pins our wire bytes against protobuf's own
  * CodedOutputStream (the runtime Spark ships, test-only): the same
  * Example built through both writers is byte-identical, and our
  * parser reads the library's bytes. Damage quarantines the shard
  * whole (the framing layer's contract); a malformed proto inside a
  * VALID frame also quarantines — a shard with undecodable examples
  * is a conversion-job bug upstream.
  *
  * Scale shape: map-only per shard. No reference citation; north-star
  * scope — this is the reader a 100 TB training corpus is actually
  * stored for.
  */
object TfExample {

  // ------------------------------------------------------------- writer

  private def utf8(s: String): Array[Byte] =
    if (s == null) Array.empty else s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  private def writeTag(out: java.io.ByteArrayOutputStream, field: Int, wire: Int): Unit =
    Bits.writeUvarint(out, ((field << 3) | wire).toLong)

  private def writeLenDelim(out: java.io.ByteArrayOutputStream, field: Int, body: Array[Byte]): Unit = {
    writeTag(out, field, 2)
    Bits.writeUvarint(out, body.length.toLong)
    out.write(body, 0, body.length)
  }

  private def msg(build: java.io.ByteArrayOutputStream => Unit): Array[Byte] = {
    val o = new java.io.ByteArrayOutputStream()
    build(o)
    o.toByteArray
  }

  private[ext] def tokensFor(id: Long): Seq[Long] =
    (0 until (1 + (id % 8)).toInt).map(i => (id + i) % 1000)

  private[ext] def scoreBitsFor(id: Long): Int =
    ((id * 2654435761L) & 0x7f7fffffL).toInt // masked: never NaN/Inf

  /** One tf.Example: doc_id (packed Int64List), text (BytesList),
    * tokens (Int64List — UNPACKED when id % 3 == 0, packed otherwise),
    * score (FloatList, bits chosen closed-form), plus an unknown
    * varint field planted inside Features that parsers must skip.
    */
  private[ext] def exampleFor(id: Long, text: String): Array[Byte] = {
    def feature(build: java.io.ByteArrayOutputStream => Unit): Array[Byte] = msg(build)
    def entry(key: String, feat: Array[Byte]): Array[Byte] = msg { o =>
      writeLenDelim(o, 1, utf8(key))
      writeLenDelim(o, 2, feat)
    }
    val fDocId = feature { o => // Int64List field 3, packed
      writeLenDelim(o, 3, msg(o2 => writeLenDelim(o2, 1, msg(o3 => Bits.writeUvarint(o3, id)))))
    }
    val fText = feature { o => // BytesList field 1
      writeLenDelim(o, 1, msg(o2 => writeLenDelim(o2, 1, utf8(text))))
    }
    val toks = tokensFor(id)
    val fTokens = feature { o =>
      val listBody =
        if (id % 3 == 0) msg { o2 => // unpacked: one varint field per value
          toks.foreach { t => writeTag(o2, 1, 0); Bits.writeUvarint(o2, t) }
        } else msg { o2 => // packed run
          writeLenDelim(o2, 1, msg(o3 => toks.foreach(t => Bits.writeUvarint(o3, t))))
        }
      writeLenDelim(o, 3, listBody)
    }
    val bits = scoreBitsFor(id)
    val fScore = feature { o => // FloatList field 2, packed (4 LE bytes)
      writeLenDelim(o, 2, msg { o2 =>
        writeLenDelim(o2, 1, msg { o3 =>
          o3.write(bits & 0xff); o3.write((bits >>> 8) & 0xff)
          o3.write((bits >>> 16) & 0xff); o3.write((bits >>> 24) & 0xff)
        })
      })
    }
    val features = msg { o =>
      writeLenDelim(o, 1, entry("doc_id", fDocId))
      writeLenDelim(o, 1, entry("text", fText))
      // the unknown-field hazard: field 99, varint — parsers must skip
      writeTag(o, 99, 0); Bits.writeUvarint(o, 12345L)
      writeLenDelim(o, 1, entry("tokens", fTokens))
      writeLenDelim(o, 1, entry("score", fScore))
    }
    msg(o => writeLenDelim(o, 1, features)) // Example.features = 1
  }

  /** Documents as tf.Example records inside 16 TFRecord shards — the
    * actual on-disk shape of a converted training corpus.
    */
  def encodeTfExampleArchives(docs: DataFrame, nArchives: Int = 16,
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
        recs.foreach { case (id, text) => TfRecord.writeRecord(out, exampleFor(id, text)) }
        (aid, out.toByteArray)
      }
      .toDF("archive_id", "payload")
  }

  // ------------------------------------------------------------- reader

  private final class MalformedProto
      extends RuntimeException("malformed proto", null, false, false)
  private def fail(): Nothing = throw new MalformedProto

  private final class Reader(b: Array[Byte], from: Int, until: Int)
      extends Bits.WireReader(b, from, until) {
    def fail(): Nothing = TfExample.fail()
  }

  private[ext] final case class FeatureVal(
      nBytes: Long, checksum: Long, int64s: Seq[Long], floatBits: Seq[Int])

  private def parseFeature(b: Array[Byte], from: Int, until: Int): FeatureVal = {
    val r = new Reader(b, from, until)
    var nBytes = 0L
    var checksum = 0L
    val int64s = Seq.newBuilder[Long]
    val floatBits = Seq.newBuilder[Int]
    while (r.pos < until) {
      val tag = r.varint()
      val field = (tag >>> 3).toInt
      val wire = (tag & 7).toInt
      field match {
        case 1 if wire == 2 => // BytesList
          val (bs, be) = r.lenDelim()
          val br = new Reader(b, bs, be)
          while (br.pos < be) {
            val t2 = br.varint()
            if ((t2 >>> 3) == 1 && (t2 & 7) == 2) {
              val (vs, ve) = br.lenDelim()
              var i = vs
              while (i < ve) { checksum = (checksum * 31 + (b(i) & 0xff)) % 1000000007L; i += 1 }
              nBytes += ve - vs
            } else br.skip((t2 & 7).toInt)
          }
        case 2 if wire == 2 => // FloatList
          val (bs, be) = r.lenDelim()
          val br = new Reader(b, bs, be)
          while (br.pos < be) {
            val t2 = br.varint()
            if ((t2 >>> 3) == 1 && (t2 & 7) == 2) { // packed
              val (vs, ve) = br.lenDelim()
              if ((ve - vs) % 4 != 0) fail()
              var i = vs
              while (i < ve) {
                floatBits += ((b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
                  ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24))
                i += 4
              }
            } else if ((t2 >>> 3) == 1 && (t2 & 7) == 5) { // unpacked
              if (br.pos + 4 > be) fail()
              floatBits += ((b(br.pos) & 0xff) | ((b(br.pos + 1) & 0xff) << 8) |
                ((b(br.pos + 2) & 0xff) << 16) | ((b(br.pos + 3) & 0xff) << 24))
              br.pos += 4
            } else br.skip((t2 & 7).toInt)
          }
        case 3 if wire == 2 => // Int64List
          val (bs, be) = r.lenDelim()
          val br = new Reader(b, bs, be)
          while (br.pos < be) {
            val t2 = br.varint()
            if ((t2 >>> 3) == 1 && (t2 & 7) == 2) { // packed
              val (vs, ve) = br.lenDelim()
              val vr = new Reader(b, vs, ve)
              while (vr.pos < ve) int64s += vr.varint()
            } else if ((t2 >>> 3) == 1 && (t2 & 7) == 0) { // unpacked
              int64s += br.varint()
            } else br.skip((t2 & 7).toInt)
          }
        case _ => r.skip(wire)
      }
    }
    FeatureVal(nBytes, checksum, int64s.result(), floatBits.result())
  }

  private[ext] def parseExample(b: Array[Byte], from: Int, until: Int): Map[String, FeatureVal] = {
    val r = new Reader(b, from, until)
    var out = Map.empty[String, FeatureVal]
    while (r.pos < until) {
      val tag = r.varint()
      if ((tag >>> 3) == 1 && (tag & 7) == 2) { // Example.features
        val (fs, fe) = r.lenDelim()
        val fr = new Reader(b, fs, fe)
        while (fr.pos < fe) {
          val t2 = fr.varint()
          if ((t2 >>> 3) == 1 && (t2 & 7) == 2) { // map entry
            val (es, ee) = fr.lenDelim()
            val er = new Reader(b, es, ee)
            var key: String = null
            var value: FeatureVal = null
            while (er.pos < ee) {
              val t3 = er.varint()
              if ((t3 >>> 3) == 1 && (t3 & 7) == 2) {
                val (ks, ke) = er.lenDelim()
                key = new String(b, ks, ke - ks, java.nio.charset.StandardCharsets.UTF_8)
              } else if ((t3 >>> 3) == 2 && (t3 & 7) == 2) {
                val (vs, ve) = er.lenDelim()
                value = parseFeature(b, vs, ve)
              } else er.skip((t3 & 7).toInt)
            }
            if (key == null || value == null) fail()
            out += (key -> value)
          } else fr.skip((t2 & 7).toInt)
        }
      } else r.skip((tag & 7).toInt)
    }
    out
  }

  // ------------------------------------------------------------ operator

  final case class TfExampleRow(archive_id: Long, rec_idx: Long, doc_id: Long,
      n_text_bytes: Long, text_checksum: Long, n_tokens: Long, tokens_sum: Long,
      score_bits: Long, n_features: Long)

  /** The operator: TFRecord shards of tf.Example protos → one row per
    * example, floats carried as IEEE bits (bitwise-gradeable). Damage
    * in the framing OR the proto plane quarantines the shard whole.
    */
  def tfExampleExtract(archives: DataFrame, maxRecordBytes: Int = 1 << 26): Dataset[TfExampleRow] = {
    val spark = archives.sparkSession
    import spark.implicits._
    archives
      .select(col("archive_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .flatMap { case (aid, payload) =>
        try {
          TfRecord.demuxPayloads(payload, maxRecordBytes).zipWithIndex.map {
            case ((from, until), recIdx) =>
              val feats = parseExample(payload, from, until)
              val id = feats.getOrElse("doc_id", fail()).int64s match {
                case Seq(v) => v
                case _ => fail()
              }
              val text = feats.getOrElse("text", fail())
              val toks = feats.getOrElse("tokens", fail()).int64s
              val score = feats.getOrElse("score", fail()).floatBits match {
                case Seq(v) => v
                case _ => fail()
              }
              TfExampleRow(aid, recIdx.toLong, id, text.nBytes, text.checksum,
                toks.length.toLong, toks.sum, score.toLong & 0xffffffffL, feats.size.toLong)
          }
        } catch { case scala.util.control.NonFatal(_) => Vector.empty } // quarantine
      }
  }
}

package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** ======== Content-defined chunking (Gear rolling hash) ========
  *
  * Byte-level dedup for training corpora: fixed-size chunking misses
  * every duplicate that is shifted by an insertion, so dedup systems cut
  * chunk boundaries where a ROLLING HASH of the content hits a mask —
  * the boundaries then move WITH the content (the rsync/LBFS/FastCDC
  * family). This module implements Gear CDC: per byte,
  * `h = (h·2 + gear[b]) mod 2^48`, boundary where `h mod 64 == 0`
  * (average chunk 64 bytes at fixture scale; the mask is a parameter).
  *
  * Two deliberate, documented design points make the whole chunker
  * bitwise SQL-replayable:
  *
  *  1. The gear table is md5-derived (`md5('g:' || byte)` low 48 bits),
  *     not a compiled-in random table — both engines rebuild it.
  *  2. The hash does NOT reset at chunk boundaries (classic Gear resets;
  *     with a 2^48 modulus a byte's influence vanishes after 48 shifts
  *     anyway, so the difference is confined to the first 47 bytes after
  *     a cut). Keeping it continuous gives every position a CLOSED FORM:
  *     `h_i = Σ_{j=i-47..i} gear[b_j]·2^(i−j) mod 2^48` — only the last
  *     48 bytes ever matter, which is what lets the oracle compute each
  *     position's hash independently (no stateful fold over megabytes).
  *
  * Chunk identity for dedup is a `(acc·31 + byte) mod p` checksum of the
  * chunk's bytes plus its length — the fold the oracle replays with
  * `list_reduce`. 100 TB shape: map-only per document (one pass, state
  * is one Long); the dedup aggregate is one shuffle on (len, checksum).
  *
  * No reference citation — the reference has no chunking path;
  * north-star byte-level-dedup scope.
  */
object Cdc {

  final case class CdcChunk(
      doc_id: Long, chunk_idx: Long, start: Long, len: Long, checksum: Long)

  private val Mod48 = (1L << 48) - 1L // mask form of mod 2^48
  private val ChecksumMod = 1000000007L

  private[ext] val gearTable: Array[Long] = Array.tabulate(256) { b =>
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s"g:$b".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 12), 16)
  }

  /** Chunk one payload; returns (start, len, checksum) per chunk, starts
    * 1-based to match the SQL replay's positions.
    */
  private[ext] def chunkBytes(bytes: Array[Byte], mask: Long): Seq[(Long, Long, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var h = 0L
    var start = 0
    var cs = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      h = ((h << 1) + gearTable(b)) & Mod48
      cs = (cs * 31L + b) % ChecksumMod
      if (h % mask == 0L || i == bytes.length - 1) {
        out.append(((start + 1).toLong, (i - start + 1).toLong, cs))
        start = i + 1
        cs = 0L
      }
      i += 1
    }
    out.toSeq
  }

  /** Content-defined chunks of each document's UTF-8 payload. */
  def chunks(docs: DataFrame, mask: Long = 64L,
      idCol: String = "doc_id", textCol: String = "text"): Dataset[CdcChunk] = {
    require(mask >= 1, "mask must be positive")
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .filter(col(idCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
      .flatMap { case (id, text) =>
        chunkBytes(text.getBytes("UTF-8"), mask).zipWithIndex.map {
          case ((start, len, cs), idx) => CdcChunk(id, idx.toLong, start, len, cs)
        }
      }
  }

  /** Corpus-level chunk dedup: identical (len, checksum) chunks collapse;
    * the classic CDC payoff — shifted duplicates still share chunks.
    */
  def chunkDedup(docs: DataFrame, mask: Long = 64L,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    chunks(docs, mask, idCol, textCol).toDF()
      .groupBy(col("len"), col("checksum"))
      .agg(
        count(lit(1)).as("n_copies"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("min_doc"))
}

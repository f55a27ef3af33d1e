package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ======== Delta-of-delta timestamp compression (the Gorilla scheme) ========
  *
  * Time-series stores compress timestamps by encoding the CHANGE of the
  * inter-arrival delta (Facebook's Gorilla paper, VLDB 2015): regular
  * cadences make almost every delta-of-delta zero — one bit per event.
  * Per series: first timestamp raw (64 bits), then each dod in the
  * smallest of the prefix-coded buckets
  *
  *   0                        -> '0'            (1 bit)
  *   [-63, 64]                -> '10'   + 7 bits
  *   [-255, 256]              -> '110'  + 9 bits
  *   [-2047, 2048]            -> '1110' + 12 bits
  *   otherwise                -> '1111' + 64 bits
  *
  * (Gorilla's final bucket is 32 bits for second-precision stamps; ours
  * is 64 because the events table carries nanoseconds — a deliberate,
  * documented widening, same prefix structure.) Values are stored
  * offset by the bucket minimum, LSB-first.
  *
  * Everything emitted has a CLOSED FORM the DuckDB oracle recomputes:
  * dod via two window lags, bits via the bucket CASE ladder summed per
  * series, and the checksum folds the DECODED timestamps in order — so
  * a wrong bucket boundary (the classic ±1 on [-63, 64]), a bit-order
  * slip, or a broken round-trip fails the hash. One shuffle (series
  * grouping); the per-series window carries (ts, event_id) only.
  */
object Gorilla {

  final case class TsBlock(
      user_id: Long, n_events: Long, n_bits: Long, n_bytes: Long, checksum: Long)

  private val ChecksumMod = 1000000007L

  private[ext] def bitsFor(dod: Long): Int =
    if (dod == 0L) 1
    else if (dod >= -63 && dod <= 64) 9
    else if (dod >= -255 && dod <= 256) 12
    else if (dod >= -2047 && dod <= 2048) 16
    else 68

  private[ext] def encode(ts: Array[Long]): Array[Byte] = {
    val out = new Bits.LsbWriter
    out.put(ts(0), 64)
    var prevDelta = 0L
    var i = 1
    while (i < ts.length) {
      val delta = ts(i) - ts(i - 1)
      val dod = delta - prevDelta
      if (dod == 0L) out.put(0L, 1)
      else if (dod >= -63 && dod <= 64) { out.put(0x1L, 2); out.put(dod + 63, 7) }
      else if (dod >= -255 && dod <= 256) { out.put(0x3L, 3); out.put(dod + 255, 9) }
      else if (dod >= -2047 && dod <= 2048) { out.put(0x7L, 4); out.put(dod + 2047, 12) }
      else { out.put(0xfL, 4); out.put(dod, 64) }
      prevDelta = delta
      i += 1
    }
    out.toArray
  }

  private[ext] def decode(bytes: Array[Byte], n: Int): Array[Long] = {
    require(n >= 1)
    val in = new Bits.LsbReader(bytes, 0, bytes.length) {
      def fail(): Nothing = throw new IllegalArgumentException("truncated gorilla stream")
    }
    def take64(): Long = (in.read(32) & 0xffffffffL) | (in.read(32).toLong << 32)
    val out = new Array[Long](n)
    out(0) = take64()
    var prevDelta = 0L
    var i = 1
    while (i < n) {
      val dod =
        if (in.read(1) == 0) 0L
        else if (in.read(1) == 0) in.read(7) - 63L
        else if (in.read(1) == 0) in.read(9) - 255L
        else if (in.read(1) == 0) in.read(12) - 2047L
        else take64()
      prevDelta += dod
      out(i) = out(i - 1) + prevDelta
      i += 1
    }
    out
  }

  /** Per-series compression stats over an event stream. `n_bits` is the
    * exact encoded size; `checksum` folds the DECODED timestamps.
    */
  def tsBlocks(events: DataFrame, idCol: String = "user_id", tsCol: String = "ts",
      tieCol: String = "event_id"): Dataset[TsBlock] = {
    val spark = events.sparkSession
    import spark.implicits._
    events
      .filter(col(idCol).isNotNull && col(tsCol).isNotNull && col(tieCol).isNotNull)
      .select(col(idCol).cast("long").as("uid"), col(tsCol).cast("long").as("t"),
        col(tieCol).cast("long").as("tie"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("uid").orderBy(col("t"), col("tie"))) - 1)
      .groupBy("uid")
      .agg(sort_array(collect_list(struct(col("rk"), col("t")))).as("xs"))
      .select(col("uid"), expr("transform(xs, x -> x.t)").as("ts"))
      .as[(Long, Seq[Long])]
      .map { case (uid, tsSeq) =>
        val ts = tsSeq.toArray
        val bytes = encode(ts)
        val back = decode(bytes, ts.length)
        require(java.util.Arrays.equals(back, ts),
          s"gorilla round-trip failed for series $uid")
        var nBits = 64L
        var i = 1
        while (i < ts.length) {
          nBits += bitsFor((ts(i) - ts(i - 1)) - (if (i == 1) 0L else ts(i - 1) - ts(i - 2)))
          i += 1
        }
        require((nBits + 7) / 8 == bytes.length, s"bit accounting drifted for series $uid")
        var cs = 0L
        back.foreach { t => cs = (cs * 31L + java.lang.Math.floorMod(t, ChecksumMod)) % ChecksumMod }
        TsBlock(uid, ts.length.toLong, nBits, bytes.length.toLong, cs)
      }
  }
}

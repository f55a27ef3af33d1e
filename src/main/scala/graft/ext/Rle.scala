package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ======== Dictionary + run-length encoding (columnar codec #4) ========
  *
  * The encoding low-cardinality string columns actually get in parquet/
  * ORC: values map through a GLOBAL sorted dictionary to dense integer
  * codes, and consecutive equal codes collapse to (code, run_len) pairs,
  * each varint-encoded — a sorted shipmode column costs a handful of
  * bytes per million rows. Completes the columnar family next to the
  * varint postings ([[InvertedIndex]]), frame-of-reference bit-packing
  * ([[BitPack]]) and delta-of-delta stamps ([[Gorilla]]).
  *
  * Runs are formed inside hash buckets under a total order (key columns
  * + the value as final tie-break — the [[BitPack]] determinism rule),
  * so no global sort exists. The dictionary is the ONE deliberately
  * driver-materialized piece: real writers hold it in memory per row
  * group and spill to plain encoding past a cap — here `maxDict` throws
  * past the cap (the honest contract for a dictionary encoder; the
  * fixture cardinality is single digits).
  *
  * Everything emitted is SQL-closed-form: run boundaries are the classic
  * gaps-and-islands window (change flag → running sum), codes are the
  * dictionary rank, and each run's byte cost is varint(code) +
  * varint(run_len) via the same 7-bit continuation ladder the postings
  * oracle uses. The encoder round-trips every bucket (encode → decode →
  * require equality) before emitting DECODED runs, so the rows only
  * match the oracle if the codec is the identity.
  */
object Rle {

  final case class RleRun(
      bucket: Long, run_idx: Long, value: String, code: Long, run_len: Long, n_bytes: Long)

  private[ext] def encodeRuns(runs: Seq[(Long, Long)]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(runs.length * 3)
    runs.foreach { case (code, len) =>
      Bits.writeUvarint(out, code)
      Bits.writeUvarint(out, len)
    }
    out.toByteArray
  }

  /** Decode `nRuns` (code, run_len) pairs; throws on a truncated or
    * overlong (> 10 byte) varint or trailing bytes.
    */
  private[ext] def decodeRuns(bytes: Array[Byte], nRuns: Int): Seq[(Long, Long)] = {
    val r = new Bits.Cursor(bytes, 0, bytes.length) {
      def fail(): Nothing = throw new IllegalArgumentException("truncated or overlong varint in RLE stream")
    }
    val out = (0 until nRuns).map(_ => (r.uvarint(10), r.uvarint(10)))
    if (r.pos != bytes.length) throw new IllegalArgumentException("trailing bytes in RLE stream")
    out
  }

  private def vlen(x: Long): Long =
    if (x == 0L) 1L else 1L + (63 - java.lang.Long.numberOfLeadingZeros(x)) / 7

  /** Dictionary-RLE runs of a string column. Output one row per run with
    * its dictionary code and exact encoded byte cost.
    */
  def runs(df: DataFrame, keyCols: Seq[String], valueCol: String,
      nBuckets: Int = 64, maxDict: Int = 65536): Dataset[RleRun] = {
    require(keyCols.nonEmpty && nBuckets >= 1)
    val spark = df.sparkSession
    import spark.implicits._
    val base = df
      .filter(col(valueCol).isNotNull && keyCols.map(col(_).isNotNull).reduce(_ && _))
      .select(
        (col(keyCols.head).cast("long") % nBuckets).as("bucket") +:
          keyCols.map(col) :+ col(valueCol).cast("string").as("__v"): _*)
      .filter(col("bucket") >= 0)
    // global sorted dictionary — bounded driver materialization (see scaladoc)
    val values = base.select(col("__v")).distinct().orderBy(col("__v"))
      .as[String].take(maxDict + 1)
    require(values.length <= maxDict, s"dictionary cardinality exceeds maxDict=$maxDict")
    val dict = values.zipWithIndex.map { case (v, i) => v -> i.toLong }.toMap
    val dictB = spark.sparkContext.broadcast(dict)
    base
      .withColumn("__rk", row_number().over(
        Window.partitionBy("bucket").orderBy(keyCols.map(col) :+ col("__v"): _*)) - 1)
      .groupBy("bucket")
      .agg(sort_array(collect_list(struct(col("__rk"), col("__v")))).as("xs"))
      .select(col("bucket"), expr("transform(xs, x -> x.__v)").as("vs"))
      .as[(Long, Seq[String])]
      .flatMap { case (bucket, vs) =>
        val codes = vs.map(dictB.value)
        val runs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
        codes.foreach { c =>
          if (runs.nonEmpty && runs.last._1 == c) runs(runs.length - 1) = (c, runs.last._2 + 1)
          else runs.append((c, 1L))
        }
        val bytes = encodeRuns(runs.toSeq)
        val back = decodeRuns(bytes, runs.length)
        require(back == runs.toSeq, s"RLE round-trip failed for bucket $bucket")
        val rev = dictB.value.map(_.swap)
        back.zipWithIndex.map { case ((code, len), idx) =>
          RleRun(bucket, idx.toLong, rev(code), code, len, vlen(code) + vlen(len))
        }
      }
  }
}

package graft.operators

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

import graft.model.{Metric, WindowAggregate}

/** Keyed tumbling-window AVG/MAX (O4/O5,
  * /root/reference/src/flinkarima.py:261-281, :418-428).
  *
  * Batch only, with the sliding and session variants the catalog
  * registers. The reference uses processing-time tumbling windows; records
  * carry usable epoch-millis event times, so the Spark port windows on
  * event time (SURVEY §1.4/§7.5.1); the streaming job's zero-lateness
  * windows live in [[NodePipeline]]. The window result keeps the
  * reference's `event_time` semantics: max element event time, falling
  * back to the window end when every element's timestamp was 0
  * (flinkarima.py:267-280).
  *
  * Scale: Spark's hash aggregation with map-side combine before the
  * shuffle — an improvement over the reference's buffer-all
  * ProcessWindowFunction.
  */
object WindowAgg {

  /** Tumbling windows of `windowMillis` per node.
    *
    * `exactMean = true` computes the window mean via an exact decimal sum
    * (metric cpus are 2-decimal by the reference's own rounding,
    * datagen.py:76) instead of a double sum — semantically within 1 ulp, but
    * deterministic under ANY partitioning and bit-reproducible by an external
    * oracle engine. Plain double `avg` is partition-order dependent in its
    * last ulp.
    */
  def batch(metrics: Dataset[Metric], windowMillis: Long = 300000L, exactMean: Boolean = false): Dataset[WindowAggregate] = {
    import metrics.sparkSession.implicits._
    metrics.withColumn("ts", timestamp_millis($"eventTime"))
      .groupBy(window($"ts", s"$windowMillis milliseconds"), $"nodeId")
      .agg(cpuMean(exactMean).as("cpu"), max($"eventTime").as("maxTs"))
      .select(
        $"nodeId",
        $"cpu",
        when($"maxTs" === 0L, unix_millis($"window.end")).otherwise($"maxTs").as("eventTime"))
      .as[WindowAggregate]
  }

  /** Sliding (hopping) windows: width `windowMillis`, hop `slideMillis` —
    * each element lands in windowMillis/slideMillis windows. Output keeps
    * the window start for identity since windows overlap.
    */
  def sliding(
      metrics: Dataset[Metric],
      windowMillis: Long,
      slideMillis: Long,
      exactMean: Boolean = false): org.apache.spark.sql.DataFrame = {
    import metrics.sparkSession.implicits._
    metrics.withColumn("ts", timestamp_millis($"eventTime"))
      .groupBy(window($"ts", s"$windowMillis milliseconds", s"$slideMillis milliseconds"), $"nodeId")
      .agg(cpuMean(exactMean).as("cpu"), max($"eventTime").as("maxTs"), count(lit(1)).as("n"))
      .select(
        $"nodeId",
        unix_millis($"window.start").as("windowStart"),
        $"cpu",
        $"maxTs".as("eventTime"),
        $"n")
  }

  /** Session windows: events for a key closer than `gapMillis` merge into one
    * session [first, last + gap), via Spark's `session_window`.
    */
  def sessions(metrics: Dataset[Metric], gapMillis: Long): org.apache.spark.sql.DataFrame = {
    import metrics.sparkSession.implicits._
    metrics.withColumn("ts", timestamp_millis($"eventTime"))
      .groupBy(session_window($"ts", s"$gapMillis milliseconds"), $"nodeId")
      .agg(count(lit(1)).as("n"), max($"eventTime").as("lastTs"))
      .select(
        $"nodeId",
        unix_millis($"session_window.start").as("sessionStart"),
        unix_millis($"session_window.end").as("sessionEnd"),
        $"n",
        $"lastTs")
  }

  private def cpuMean(exact: Boolean) =
    if (exact) sum(col("cpu").cast("decimal(18,2)")).cast("double") / count(lit(1))
    else avg(col("cpu"))
}

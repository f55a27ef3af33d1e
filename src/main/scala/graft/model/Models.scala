package graft.model

/** Core data model of the pipeline.
  *
  * Mirrors the reference's row shapes (see /root/reference/src/flinkarima.py):
  *  - `Metric`: parsed input row `(node_id, cpu, event_time)` (flinkarima.py:121-127, 405-408)
  *  - `WindowAggregate`: 5-minute window result (flinkarima.py:261-281)
  *  - `Baseline`: SARIMAX baseline payload (flinkarima.py:245-256, README.md:112-126)
  *  - `Alert`: deviation alert payload (flinkarima.py:343-356, README.md:128-144)
  *  - `NodeState`: per-key managed state (flinkarima.py:171-189)
  *
  * All math is Double (Python floats are doubles; flinkarima.py computes in double
  * even though the Flink row declared FLOAT).
  */
final case class Metric(nodeId: String, cpu: Double, eventTime: Long)

final case class WindowAggregate(nodeId: String, cpu: Double, eventTime: Long)

/** Hand-rolled JSON building blocks for the payload strings (the reference
  * emits JSON text, flinkarima.py:245-256, :343-356).
  */
object JsonFormat {

  /** Escape per RFC 8259: quote, backslash, and control chars. */
  def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Render like Python json.dumps for finite doubles (73.0 not 73); NaN and
    * +/-Infinity become null (deliberate divergence: Python emits bare NaN
    * tokens, which no JSON parser accepts).
    */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == d.floor && math.abs(d) < 1e15) s"${d.toLong}.0"
    else d.toString
}

final case class Baseline(
    nodeId: String,
    observedCpu: Double,
    baselineCpu: Double,
    historySize: Int,
    eventTime: Long,
    runningMean: Double,
    runningStd: Double,
    dailyAvgLatest: Option[Double],
    dailyAvgLast5: Option[Double]) {

  /** JSON payload with the same keys/order as flinkarima.py:245-256. */
  def toJson: String = {
    import JsonFormat.{esc, num}
    def opt(o: Option[Double]): String = o.map(num).getOrElse("null")
    s"""{"node_id": "${esc(nodeId)}", "observed_cpu": ${num(observedCpu)}, "baseline_cpu": ${num(baselineCpu)}, """ +
      s""""history_size": $historySize, "event_time": $eventTime, "running_mean": ${num(runningMean)}, """ +
      s""""running_std": ${num(runningStd)}, "daily_avg_latest": ${opt(dailyAvgLatest)}, "daily_avg_last5": ${opt(dailyAvgLast5)}}"""
  }
}

final case class Alert(
    nodeId: String,
    alertType: String,
    severity: String,
    observedCpu: Double,
    baselineCpu: Double,
    deviation: Double,
    pctDeviation: Double,
    zScore: Double,
    alertReason: String,
    eventTime: Long,
    baselineEventTime: Long)

/** Per-key state of the baseline kernel (flinkarima.py:171-189).
  * `history` holds z-scored samples, `rawHistory` raw samples, both capped at
  * maxHistory; `count/mean/m2` are the Welford accumulators over raw samples;
  * `emitCounter` gates model fits (flinkarima.py:218-223).
  *
  * Histories are `Vector`s: the hot loop appends and trims once per element
  * (`:+` then `takeRight`), which is effectively O(1)/O(k) on Vector but an
  * O(n) full copy on List — at maxHistory=1440 that is ~3k copied cells per
  * sample per key.
  */
final case class NodeState(
    history: Vector[Double],
    rawHistory: Vector[Double],
    emitCounter: Int,
    count: Long,
    mean: Double,
    m2: Double)

object NodeState {
  val empty: NodeState = NodeState(Vector.empty, Vector.empty, 0, 0L, 0.0, 0.0)
}

/** Output envelope of the fused streaming pipeline: the reference emits both
  * baselines and alerts as JSON strings to stdout (flinkarima.py:471-474).
  */
final case class PipelineOutput(kind: String, nodeId: String, eventTime: Long, payload: String)

/** State of the fused per-key pipeline operator: open 5-minute window
  * accumulator + baseline state + latest baseline for alerting.
  * `closedThrough` is the start of the newest window already finalized (by a
  * later record or by the idle-flush timeout); records at or before it are
  * late and dropped rather than re-opening an emitted window.
  */
final case class OpenWindow(windowStart: Long, sum: Double, count: Long, maxTs: Long)

final case class NodePipelineState(
    open: Option[OpenWindow],
    node: NodeState,
    latestBaseline: Option[Baseline],
    closedThrough: Long = Long.MinValue)

object NodePipelineState {
  val empty: NodePipelineState = NodePipelineState(None, NodeState.empty, None)
}

package graft.model

import java.nio.{BufferUnderflowException, ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.catalyst.encoders.Codec

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
  * Histories are `ArraySeq`s over a primitive `Array[Double]` (`ofDouble`):
  * [[NodePipelineStateCodec]] writes and reads each one as a single bulk
  * copy, and `BaselineOp.step` builds one new array per append+trim, so no
  * element is ever boxed.
  */
final case class NodeState(
    history: ArraySeq[Double],
    rawHistory: ArraySeq[Double],
    emitCounter: Int,
    count: Long,
    mean: Double,
    m2: Double)

object NodeState {
  val empty: NodeState = NodeState(ArraySeq.empty[Double], ArraySeq.empty[Double], 0, 0L, 0.0, 0.0)
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

/** The state store's binary layout of [[NodePipelineState]]: one
  * `BinaryType` column (see `NodePipeline.stateEncoder`). Little-endian:
  *  - a version byte;
  *  - the open window: a presence byte, then windowStart, sum, count, maxTs;
  *  - closedThrough;
  *  - history and rawHistory: each a length, then its doubles in bulk;
  *  - emitCounter, count, mean, m2;
  *  - the latest baseline: a presence byte, then the nodeId's UTF-8 length
  *    and bytes, the fields in declaration order, and each optional daily
  *    average as a presence byte plus the double when present.
  *
  * Doubles keep their raw bits, so a state reads back exactly as written.
  * Bytes that do not parse as this layout (truncated, trailing, an unknown
  * version or presence byte) throw `IllegalArgumentException`, so a bad
  * checkpoint fails loudly instead of being misread.
  */
object NodePipelineStateCodec extends Codec[NodePipelineState, Array[Byte]] {
  val Version: Byte = 1

  def encode(st: NodePipelineState): Array[Byte] = {
    val n = st.node
    val history = doubles(n.history)
    val raw = doubles(n.rawHistory)
    val id = st.latestBaseline.map(_.nodeId.getBytes(UTF_8))
    def optSize(o: Option[Double]) = if (o.isDefined) 9 else 1
    // version; open window; closedThrough; histories; node fields; baseline
    val size = 1 + 1 + (if (st.open.isDefined) 32 else 0) + 8 + 4 + 8 * history.length + 4 + 8 * raw.length +
      28 + 1 + st.latestBaseline.fold(0)(b => 48 + id.get.length + optSize(b.dailyAvgLatest) + optSize(b.dailyAvgLast5))
    val bb = ByteBuffer.allocate(size).order(ByteOrder.LITTLE_ENDIAN)
    bb.put(Version)
    putFlag(bb, st.open.isDefined)
    st.open.foreach(o => bb.putLong(o.windowStart).putDouble(o.sum).putLong(o.count).putLong(o.maxTs))
    bb.putLong(st.closedThrough)
    putDoubles(bb, history)
    putDoubles(bb, raw)
    bb.putInt(n.emitCounter).putLong(n.count).putDouble(n.mean).putDouble(n.m2)
    putFlag(bb, st.latestBaseline.isDefined)
    st.latestBaseline.foreach { b =>
      bb.putInt(id.get.length).put(id.get)
      bb.putDouble(b.observedCpu).putDouble(b.baselineCpu).putInt(b.historySize).putLong(b.eventTime)
        .putDouble(b.runningMean).putDouble(b.runningStd)
      putOptDouble(bb, b.dailyAvgLatest)
      putOptDouble(bb, b.dailyAvgLast5)
    }
    bb.array
  }

  def decode(bytes: Array[Byte]): NodePipelineState = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    try {
      val version = bb.get()
      if (version != Version) corrupt(s"unknown version $version")
      // arguments evaluate left to right: each field reads in layout order
      val open = if (flag(bb)) Some(OpenWindow(bb.getLong, bb.getDouble, bb.getLong, bb.getLong)) else None
      val closedThrough = bb.getLong
      val node = NodeState(getDoubles(bb), getDoubles(bb), bb.getInt, bb.getLong, bb.getDouble, bb.getDouble)
      val latest =
        if (!flag(bb)) None
        else Some(Baseline(getUtf8(bb), bb.getDouble, bb.getDouble, bb.getInt, bb.getLong, bb.getDouble,
          bb.getDouble, getOptDouble(bb), getOptDouble(bb)))
      if (bb.hasRemaining) corrupt(s"${bb.remaining} trailing bytes")
      NodePipelineState(open, node, latest, closedThrough)
    } catch {
      case _: BufferUnderflowException => corrupt(s"truncated at ${bytes.length} bytes")
    }
  }

  private def corrupt(what: String): Nothing =
    throw new IllegalArgumentException(s"not a NodePipelineState in state format v$Version: $what")

  // an ofDouble wraps its array as is; any other ArraySeq takes a boxed copy
  private def doubles(s: ArraySeq[Double]): Array[Double] = s.unsafeArray match {
    case a: Array[Double] => a
    case _ => s.toArray
  }

  private def putDoubles(bb: ByteBuffer, a: Array[Double]): Unit = {
    bb.putInt(a.length)
    bb.asDoubleBuffer.put(a)
    bb.position(bb.position + 8 * a.length)
  }

  private def getDoubles(bb: ByteBuffer): ArraySeq[Double] = {
    val len = bb.getInt
    if (len < 0 || len > bb.remaining / 8) corrupt(s"history length $len with ${bb.remaining} bytes left")
    val a = new Array[Double](len)
    bb.asDoubleBuffer.get(a)
    bb.position(bb.position + 8 * len)
    ArraySeq.unsafeWrapArray(a)
  }

  private def getUtf8(bb: ByteBuffer): String = {
    val len = bb.getInt
    if (len < 0 || len > bb.remaining) corrupt(s"nodeId length $len with ${bb.remaining} bytes left")
    val s = new String(bb.array, bb.position, len, UTF_8)
    bb.position(bb.position + len)
    s
  }

  private def putFlag(bb: ByteBuffer, present: Boolean): Unit = bb.put((if (present) 1 else 0).toByte)

  private def flag(bb: ByteBuffer): Boolean = bb.get() match {
    case 0 => false
    case 1 => true
    case b => corrupt(s"presence byte $b")
  }

  private def putOptDouble(bb: ByteBuffer, o: Option[Double]): Unit = {
    putFlag(bb, o.isDefined)
    o.foreach(d => bb.putDouble(d))
  }

  private def getOptDouble(bb: ByteBuffer): Option[Double] = if (flag(bb)) Some(bb.getDouble) else None
}

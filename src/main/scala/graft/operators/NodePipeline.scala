package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.reflect.classTag

import org.apache.spark.sql.{Dataset, Encoder}
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{BinaryEncoder, TransformingEncoder}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.PipelineConfig
import graft.model._

/** The job's one stateful operator: tumbling-window aggregation + SARIMAX
  * baseline + latest-baseline alerting, fused into a single keyed
  * `flatMapGroupsWithState` stage over the pure kernels [[AlertOp.check]]
  * and [[BaselineOp.step]].
  *
  * Why fused: Structured Streaming allows at most one
  * `flatMapGroupsWithState` stage per streaming query (and none after a
  * streaming aggregation), and every stage of the reference job
  * (/root/reference/src/flinkarima.py:392-476) is keyed by the same
  * `node_id` — the dataflow is logically one keyed pipeline (the broadcast
  * edge is a Flink API artifact, see [[AlertOp]]). Fusing gives a single
  * shuffle on `node_id` and a single state store, with no broadcast state —
  * less data movement than the reference's two hash exchanges + broadcast.
  *
  * Window semantics: event-time tumbling windows. A window for a key is
  * finalized either by a later-window record for that key (zero-lateness
  * watermark analog, SURVEY §1.4) or — matching the reference's guaranteed
  * processing-time window fire (flinkarima.py:420-428) — by a
  * processing-time idle timeout of `windowMillis`, so a node that goes
  * quiet still emits its last window (and can still alert: a dead node is
  * exactly the case alerting exists for). Records at or before an already
  * finalized window are dropped. A finalized window is alerted against the
  * previous baseline before it feeds the baseline, so at equal timestamps
  * the alert comes first (see [[AlertOp]]).
  */
object NodePipeline {

  /** The state's one encoding: a single binary column that
    * [[NodePipelineStateCodec]] writes and reads. Spark's derived struct
    * encoder would rebuild every history element by element on each of a
    * key's two decodes per micro-batch (the timeout scan and the update).
    */
  val stateEncoder: Encoder[NodePipelineState] =
    TransformingEncoder(classTag[NodePipelineState], BinaryEncoder, () => NodePipelineStateCodec)

  def apply(metrics: Dataset[Metric], cfg: PipelineConfig): Dataset[PipelineOutput] = {
    import metrics.sparkSession.implicits._
    metrics
      .groupByKey(_.nodeId)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout())(processGroup(cfg) _)(
        stateEncoder, implicitly[Encoder[PipelineOutput]])
  }

  def processGroup(cfg: PipelineConfig)(
      key: String,
      rows: Iterator[Metric],
      state: GroupState[NodePipelineState]): Iterator[PipelineOutput] = {
    var st = state.getOption.getOrElse(NodePipelineState.empty)
    val out = ArrayBuffer.empty[PipelineOutput]
    val windowMs = cfg.windowMillis

    def finalizeWindow(ow: OpenWindow): Unit = {
      val eventTime = if (ow.maxTs == 0L) ow.windowStart + windowMs else ow.maxTs
      val aggRow = WindowAggregate(key, ow.sum / ow.count, eventTime)
      // alert FIRST against the previous baseline (the raw path is shorter
      // than the SARIMAX path in the reference; see AlertOp ordering note)
      AlertOp.check(cfg, aggRow, st.latestBaseline).foreach { a =>
        out += PipelineOutput("alert", key, a.eventTime, alertJson(a))
      }
      val (nodeNext, emitted) = BaselineOp.step(cfg, st.node, aggRow)
      emitted.foreach { b =>
        out += PipelineOutput("baseline", key, b.eventTime, b.toJson)
      }
      st = st.copy(
        node = nodeNext,
        latestBaseline = emitted.orElse(st.latestBaseline),
        closedThrough = math.max(st.closedThrough, ow.windowStart))
    }

    if (state.hasTimedOut && st.open.isEmpty) {
      // the key stayed silent through its idle flush AND the retention
      // period that followed: evict its state entirely, so permanently-dead
      // keys don't hold NodeState/latestBaseline (up to 2x maxHistory
      // doubles) forever on a long-running stream
      state.remove()
      Iterator.empty
    } else {
      if (state.hasTimedOut) {
        // idle key: flush the open window so a silent node still reports
        st.open.foreach(finalizeWindow)
        st = st.copy(open = None)
      } else {
        rows.toArray.sortBy(_.eventTime).foreach { m =>
          val ws = math.floorDiv(m.eventTime, windowMs) * windowMs
          st.open match {
            case Some(ow) if ow.windowStart == ws =>
              st = st.copy(open = Some(OpenWindow(ws, ow.sum + m.cpu, ow.count + 1, math.max(ow.maxTs, m.eventTime))))
            case Some(ow) if ws > ow.windowStart =>
              finalizeWindow(ow)
              st = st.copy(open = Some(OpenWindow(ws, m.cpu, 1L, m.eventTime)))
            case Some(_) => // late record for the open window's past: drop
            case None if ws <= st.closedThrough => // late after idle flush: drop
            case None =>
              st = st.copy(open = Some(OpenWindow(ws, m.cpu, 1L, m.eventTime)))
          }
        }
      }

      state.update(st)
      // retention ladder (no-op in batch execution, where every group is
      // processed exactly once): an open window arms the idle flush; a key
      // with no open window (just flushed, or all records late-dropped)
      // arms the longer retention timeout, whose expiry hits the remove()
      // branch above if nothing new arrived in between
      state.setTimeoutDuration(
        if (st.open.isDefined) cfg.idleFlushMillis.getOrElse(windowMs)
        else cfg.idleRetentionMillis.getOrElse(24 * windowMs))
      out.iterator
    }
  }

  private def alertJson(a: Alert): String = {
    import JsonFormat.{esc, num}
    s"""{"node_id": "${esc(a.nodeId)}", "alert_type": "${esc(a.alertType)}", "severity": "${esc(a.severity)}", """ +
      s""""observed_cpu": ${num(a.observedCpu)}, "baseline_cpu": ${num(a.baselineCpu)}, """ +
      s""""deviation": ${num(a.deviation)}, "pct_deviation": ${num(a.pctDeviation)}, """ +
      s""""z_score": ${num(a.zScore)}, "alert_reason": "${esc(a.alertReason)}", """ +
      s""""event_time": ${a.eventTime}, "baseline_event_time": ${a.baselineEventTime}}"""
  }
}

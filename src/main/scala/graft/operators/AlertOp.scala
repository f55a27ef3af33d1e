package graft.operators

import graft.core.PipelineConfig
import graft.model.{Alert, Baseline, WindowAggregate}

/** Latest-baseline alerting kernel (O9/O10/O11,
  * /root/reference/src/flinkarima.py:284-376), called by [[NodePipeline]]
  * once per finalized window with the key's latest baseline.
  *
  * The reference physically broadcasts every baseline to all alert instances
  * and keeps a `node_id -> latest baseline` map in broadcast state. That is a
  * Flink API artifact: both streams are keyed by the SAME key, so the
  * Spark-native form keeps only this key's latest baseline in the key's own
  * pipeline state — no broadcast state, strictly less data movement at scale
  * (SURVEY §7.5.2).
  *
  * Ordering: a window is checked BEFORE it is fed to [[BaselineOp.step]], so
  * at equal timestamps the alert precedes the baseline — in the reference the
  * raw path is one map shorter than the SARIMAX path, so an aggregate is
  * alerted against the PREVIOUS baseline, not the one it itself triggers.
  */
object AlertOp {

  /** Alert math — exact port of flinkarima.py:301-360. No baseline yet for the
    * key => no alert (:313-316); pct guarded by `baseline >= min_baseline`
    * (:324-326); z guarded by `std > 0` (:327-329); z-reason takes priority
    * over pct-reason (:331-340); severity high iff |z| >= 2 * z_threshold
    * (:346).
    */
  def check(cfg: PipelineConfig, aggRow: WindowAggregate, latest: Option[Baseline]): Option[Alert] =
    latest.flatMap { b =>
      val observed = aggRow.cpu
      val deviation = observed - b.baselineCpu
      val pctDeviation =
        if (b.baselineCpu >= cfg.alertMinBaseline) deviation / b.baselineCpu * 100.0 else 0.0
      val zScore = if (b.runningStd > 0.0) deviation / b.runningStd else 0.0

      val reason: Option[String] =
        if (math.abs(zScore) >= cfg.alertZThreshold)
          Some(f"z_score=$zScore%.2f exceeds threshold=${cfg.alertZThreshold}")
        else if (math.abs(pctDeviation) >= cfg.alertPctThreshold)
          Some(f"pct_deviation=$pctDeviation%.2f%% exceeds threshold=${cfg.alertPctThreshold}%%")
        else None

      reason.map { r =>
        Alert(
          nodeId = aggRow.nodeId,
          alertType = "cpu_deviation",
          severity = if (math.abs(zScore) >= cfg.alertZThreshold * 2) "high" else "medium",
          observedCpu = observed,
          baselineCpu = b.baselineCpu,
          deviation = deviation,
          pctDeviation = pctDeviation,
          zScore = zScore,
          alertReason = r,
          eventTime = aggRow.eventTime,
          baselineEventTime = b.eventTime)
      }
    }
}

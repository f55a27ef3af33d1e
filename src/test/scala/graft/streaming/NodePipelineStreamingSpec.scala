package graft.streaming

import java.nio.file.Files

import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core.{PipelineConfig, SarimaxOrder, SeasonalOrder}
import graft.model.{Metric, PipelineOutput}
import graft.operators.NodePipeline

/** End-to-end Structured Streaming tests of the fused pipeline over a
  * MemoryStream: scripted warm-up, baseline cadence, spike alert, and the
  * idle-key window flush — FIXTURES.md A5 scenarios against
  * /root/reference/src/flinkarima.py semantics (:218-223 cadence, :313-316
  * no-baseline suppression, :324-340 alert gates, :420-428 guaranteed
  * window fire).
  *
  * NOTE: with ProcessingTimeTimeout the query keeps scheduling (possibly
  * empty) micro-batches to honor pending timeouts, so `processAllAvailable`
  * never quiesces — assertions poll the memory sink instead.
  */
class NodePipelineStreamingSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def collectOut(table: String): Array[PipelineOutput] = {
    import spark.implicits._
    spark.table(table).as[PipelineOutput].collect()
  }

  private def pollUntil(what: String, timeoutMs: Long = 60000L)(pred: => Boolean): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline && !pred) Thread.sleep(150)
    assert(pred, s"timed out waiting for: $what")
  }

  test("memory-stream pipeline: warm-up, cadence, spike alert across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val cfg = PipelineConfig(
      maxHistory = 50, minHistory = 4, emitEveryN = 2,
      order = SarimaxOrder(1, 1, 1), seasonalOrder = SeasonalOrder(0, 1, 1, 4),
      windowMillis = 1000L,
      idleFlushMillis = Some(600000L)) // idle flush out of the picture here

    val input = MemoryStream[Metric]
    val query = NodePipeline(input.toDS(), cfg)
      .writeStream.format("memory").queryName("pipe_out").outputMode("append").start()
    try {
      def sample(i: Int, v: Double) = Metric("node-A", v, (i - 1) * 1000L)

      // batch 1: samples 1..5 (steady 50) -> windows 1..4 finalized;
      // cadence: baseline at finalized-window ordinal 4 (2k && history >= 4)
      input.addData((1 to 5).map(sample(_, 50.0)))
      pollUntil("warm-up baseline") (collectOut("pipe_out").count(_.kind == "baseline") == 1)
      assert(collectOut("pipe_out").count(_.kind == "alert") == 0, "no alert during warm-up")

      // batch 2: samples 6..11 -> windows 5..10 -> baselines at 6, 8, 10
      input.addData((6 to 11).map(sample(_, 50.0)))
      pollUntil("cadence baselines") (collectOut("pipe_out").count(_.kind == "baseline") == 4)
      val mid = collectOut("pipe_out")
      val baselines = mid.filter(_.kind == "baseline").sortBy(_.eventTime)
      assert(baselines.map(_.eventTime).toSeq == Seq(3000L, 5000L, 7000L, 9000L))
      // constant series: baseline forecast equals the level, std 0
      baselines.foreach { b =>
        assert(b.payload.contains(""""baseline_cpu": 50.0"""), b.payload)
        assert(b.payload.contains(""""running_std": 0.0"""), b.payload)
      }
      assert(mid.count(_.kind == "alert") == 0, "steady state must stay quiet")

      // batch 3: spike at sample 12 (window 12), then sample 13 finalizes it
      input.addData(Seq(sample(12, 250.0), sample(13, 50.0)))
      pollUntil("spike alert") (collectOut("pipe_out").count(_.kind == "alert") == 1)
      val fin = collectOut("pipe_out")
      val a = fin.filter(_.kind == "alert").head
      assert(a.eventTime == 11000L)
      // std == 0 -> z forced 0 -> pct gate fires; |z| < 2*thr -> medium
      assert(a.payload.contains(""""severity": "medium""""), a.payload)
      assert(a.payload.contains("pct_deviation=400.00%"), a.payload)
      // spike window's own baseline (#12) emitted AFTER the alert check
      val b12 = fin.filter(_.kind == "baseline").maxBy(_.eventTime)
      assert(b12.eventTime == 11000L)
      assert(b12.payload.contains(""""observed_cpu": 250.0"""), b12.payload)
    } finally query.stop()
  }

  test("idle key's last open window is flushed by the processing-time timeout") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // minHistory=1, emitEveryN=1: every finalized window emits a baseline,
    // so the flush is observable immediately
    val cfg = PipelineConfig(
      maxHistory = 10, minHistory = 1, emitEveryN = 1,
      order = SarimaxOrder(1, 1, 1), seasonalOrder = SeasonalOrder(0, 1, 1, 2),
      windowMillis = 1000L,
      idleFlushMillis = Some(1000L))

    val input = MemoryStream[Metric]
    val query = NodePipeline(input.toDS(), cfg)
      .writeStream.format("memory").queryName("flush_out").outputMode("append").start()
    try {
      def qBaselines = collectOut("flush_out").filter(o => o.nodeId == "node-Q" && o.kind == "baseline")

      // node-Q reports once, then goes silent: the timeout (1s) must fire
      // its window without any further input (reference behavior — a dead
      // node is exactly the case alerting exists for)
      input.addData(Seq(Metric("node-Q", 42.0, 5000L)))
      pollUntil("idle flush") (qBaselines.length == 1)
      assert(qBaselines.head.eventTime == 5000L)
      assert(qBaselines.head.payload.contains(""""observed_cpu": 42.0"""), qBaselines.head.payload)

      // a late record for the flushed window must NOT re-open it...
      input.addData(Seq(Metric("node-Q", 77.0, 5400L)))
      // ...while a record for a NEW window opens normally and flushes later
      input.addData(Seq(Metric("node-Q", 60.0, 8000L)))
      pollUntil("new window flush") (qBaselines.length == 2)
      val latest = qBaselines.maxBy(_.eventTime)
      assert(latest.eventTime == 8000L)
      assert(latest.payload.contains(""""observed_cpu": 60.0"""), latest.payload)
      assert(!qBaselines.exists(_.eventTime == 5400L), "late record re-emitted a closed window")
    } finally query.stop()
  }

  // more micro-batches than maxHistory: the trimmed histories are written to
  // and read back from the real state store, across one restart
  test("histories trimmed over many micro-batches match batch NodePipeline (HDFS-backed, restart)") {
    trimmedHistoriesMatchBatch("org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
  }

  test("histories trimmed over many micro-batches match batch NodePipeline (RocksDB, restart)") {
    trimmedHistoriesMatchBatch("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  }

  private def trimmedHistoriesMatchBatch(providerClass: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // every finalized window emits a baseline; only record arrival finalizes
    val cfg = PipelineConfig(
      maxHistory = 8, minHistory = 1, emitEveryN = 1,
      order = SarimaxOrder(1, 1, 1), seasonalOrder = SeasonalOrder(0, 1, 1, 2),
      windowMillis = 1000L,
      idleFlushMillis = Some(600000L))
    val nodes = Seq("node-T", "nœud-Ü")
    val batches = 20
    // one record per node and window; window k closes when batch k+1 arrives.
    // A spike at window 15 raises alerts against the trimmed baseline.
    def batch(k: Int): Seq[Metric] = nodes.zipWithIndex.map { case (n, j) =>
      Metric(n, if (k == 15) 95.0 else 30.0 + (k * 7 + j * 3) % 11, k * 1000L + j * 10L)
    }
    val expected = NodePipeline((1 to batches).flatMap(batch).toDS(), cfg).collect().sortBy(_.toString)

    val checkpoint = Files.createTempDirectory("graft-trim-ckpt-").toFile
    val outDir = Files.createTempDirectory("graft-trim-out-").toFile
    val prevProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", providerClass)
    try {
      val input = MemoryStream[Metric]
      def start() = NodePipeline(input.toDS(), cfg)
        .writeStream.format("parquet")
        .option("path", outDir.toString)
        .option("checkpointLocation", checkpoint.toString)
        .outputMode("append")
        .start()
      def streamed(): Array[PipelineOutput] =
        scala.util.Try {
          spark.read.schema(Encoders.product[PipelineOutput].schema)
            .parquet(outDir.toString).as[PipelineOutput].collect()
        }.getOrElse(Array.empty)
      // each batch waits for the previous window's outputs, so no two merge
      def feed(ks: Range): Unit = ks.foreach { k =>
        input.addData(batch(k))
        val closed = expected.count(_.eventTime < k * 1000L)
        pollUntil(s"windows before batch $k")(streamed().length == closed)
      }

      val q1 = start()
      try {
        feed(1 to 10)
        // let the last micro-batch commit land before stopping
        Thread.sleep(1000)
      } finally q1.stop()
      val q2 = start()
      try feed(11 to batches)
      finally q2.stop()

      assert(streamed().sortBy(_.toString).toSeq == expected.toSeq)
      // the cap was reached: later baselines fit on maxHistory samples
      assert(expected.count(o => o.kind == "baseline" && o.payload.contains(""""history_size": 8""")) ==
        nodes.length * (batches - cfg.maxHistory))
      assert(expected.exists(_.kind == "alert"), "the spike raised no alert")
    } finally {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
      JavaUtils.deleteRecursively(checkpoint)
      JavaUtils.deleteRecursively(outDir)
    }
  }
}

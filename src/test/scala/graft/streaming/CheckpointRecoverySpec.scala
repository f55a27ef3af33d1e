package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core.{PipelineConfig, SarimaxOrder, SeasonalOrder}
import graft.model.{Metric, PipelineOutput}
import graft.operators.NodePipeline

/** O13 exercised, not just asserted: stop the fused pipeline mid-stream and
  * restart it from the checkpoint, under the RocksDB state store provider
  * and under the HDFS-backed default the product job runs.
  * The restarted query must (a) not re-emit windows already finalized before
  * the stop, (b) finalize the window that was OPEN at stop time (its
  * OpenWindow state round-tripped through the store), and (c) continue the
  * SARIMAX history/Welford state (history_size keeps growing instead of
  * restarting at 1). Matches reference checkpointing at
  * /root/reference/src/flinkarima.py:394.
  */
class CheckpointRecoverySpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def pollUntil(what: String, timeoutMs: Long = 60000L)(pred: => Boolean): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline && !pred) Thread.sleep(150)
    assert(pred, s"timed out waiting for: $what")
  }

  private val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val HdfsBacked = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"

  test("restart from checkpoint resumes window + baseline state (RocksDB)") {
    restartResumesState(RocksDb)
  }

  // the provider the product job and stream_fleet run: its delta files are
  // written and renamed through the shared session's fork-free local fs
  test("restart from checkpoint resumes window + baseline state (HDFS-backed default)") {
    restartResumesState(HdfsBacked)
  }

  private def restartResumesState(providerClass: String): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // every finalized window emits a baseline; idle flush far away so only
    // record arrival finalizes windows (deterministic across the restart)
    val cfg = PipelineConfig(
      maxHistory = 20, minHistory = 1, emitEveryN = 1,
      order = SarimaxOrder(1, 1, 1), seasonalOrder = SeasonalOrder(0, 1, 1, 2),
      windowMillis = 1000L,
      idleFlushMillis = Some(600000L))

    val checkpoint = Files.createTempDirectory("graft-recovery-ckpt-").toString
    // the memory sink refuses checkpoint recovery; the file sink is the
    // fault-tolerant one (manifest-committed, exactly-once reads), so it is
    // also the honest sink to recover through
    val outDir = Files.createTempDirectory("graft-recovery-out-").toString
    val prevProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", providerClass)
    try {
      val input = MemoryStream[Metric]
      def sample(i: Int, v: Double) = Metric("node-C", v, i * 1000L)

      def start() = NodePipeline(input.toDS(), cfg)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()

      def baselines(): Array[PipelineOutput] =
        scala.util.Try {
          spark.read.schema(org.apache.spark.sql.Encoders.product[PipelineOutput].schema)
            .parquet(outDir).as[PipelineOutput].collect()
        }.getOrElse(Array.empty)
          .filter(o => o.kind == "baseline" && o.nodeId == "node-C")

      // run 1: samples for windows 1..4 (t=0 would hit the ts-0 window-end
      // fallback) -> windows 1..3 finalized, w4 open at stop time
      val q1 = start()
      try {
        input.addData((1 to 4).map(sample(_, 50.0)))
        pollUntil("run-1 baselines")(baselines().length == 3)
        // let the micro-batch commit land before stopping
        Thread.sleep(1000)
      } finally q1.stop()
      val run1 = baselines().sortBy(_.eventTime)
      assert(run1.map(_.eventTime).toSeq == Seq(1000L, 2000L, 3000L))

      // data added while the query is DOWN, plus post-restart data
      input.addData(Seq(sample(5, 60.0)))

      // run 2: same checkpoint, same sink
      val q2 = start()
      try {
        input.addData(Seq(sample(6, 70.0)))
        pollUntil("run-2 baselines")(baselines().length >= 5)

        val all = baselines().sortBy(_.eventTime)
        // (a) nothing is duplicated or lost across the restart
        assert(all.map(_.eventTime).toSeq == Seq(1000L, 2000L, 3000L, 4000L, 5000L),
          s"restart duplicated or dropped windows: ${all.map(_.eventTime).toSeq}")
        // (b) the window open at stop time (w4) was finalized after restart
        // from its recovered OpenWindow state
        val w4 = all(3)
        assert(w4.payload.contains(""""observed_cpu": 50.0"""), w4.payload)
        // (c) SARIMAX history continued across the restart: w4 is the 4th
        // finalized window overall, w5 the 5th — not 1 and 2
        assert(w4.payload.contains(""""history_size": 4"""), w4.payload)
        assert(all(4).payload.contains(""""history_size": 5"""), all(4).payload)
      } finally q2.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
  }

  test("idle keys are evicted after the retention period (state TTL ladder)") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val cfg = PipelineConfig(
      maxHistory = 10, minHistory = 1, emitEveryN = 1,
      order = SarimaxOrder(1, 1, 1), seasonalOrder = SeasonalOrder(0, 1, 1, 2),
      windowMillis = 1000L,
      idleFlushMillis = Some(400L),
      idleRetentionMillis = Some(600L))

    val input = MemoryStream[Metric]
    val query = NodePipeline(input.toDS(), cfg)
      .writeStream.format("memory").queryName("evict_out").outputMode("append").start()
    try {
      def eBaselines = spark.table("evict_out").as[PipelineOutput].collect()
        .filter(o => o.nodeId == "node-E" && o.kind == "baseline")

      // one record -> idle flush emits its window's baseline
      input.addData(Seq(Metric("node-E", 42.0, 5000L)))
      pollUntil("idle flush")(eBaselines.length == 1)

      // wait well past flush + retention: the key's state must be removed
      Thread.sleep(5 * (cfg.idleFlushMillis.get + cfg.idleRetentionMillis.get))

      // the SAME window re-sent: with closedThrough evicted it re-opens and
      // re-flushes (before eviction this record would be late-dropped, as
      // NodePipelineStreamingSpec's flush test pins)
      input.addData(Seq(Metric("node-E", 99.0, 5000L)))
      pollUntil("post-eviction re-open")(eBaselines.length == 2)
      val again = eBaselines.sortBy(_.eventTime).last
      assert(again.payload.contains(""""observed_cpu": 99.0"""), again.payload)
      // history restarted at 1: the eviction dropped the SARIMAX state too
      assert(again.payload.contains(""""history_size": 1"""), again.payload)
      // cold start: the latest baseline went with the evicted state, so 99.0
      // (~136% above the 42.0 baseline it would have met) raises no alert
      val alerts = spark.table("evict_out").as[PipelineOutput].collect()
        .filter(o => o.nodeId == "node-E" && o.kind == "alert")
      assert(alerts.isEmpty, alerts.map(_.payload).mkString("\n"))
    } finally query.stop()
  }

  test("TTL dedup state and its eviction timers survive a checkpoint restart") {
    import java.sql.Timestamp
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ext.CurationPipeline

    def ts(m: Int) = new Timestamp(m * 60000L)
    val params = CurationPipeline.Params(minChars = 20, minDistinctRatio = 0.3)
    val text = "the dog and the cat keep the house warm and happy"
    val checkpoint = Files.createTempDirectory("graft-ttl-ckpt-").toString
    val outDir = Files.createTempDirectory("graft-ttl-out-").toString
    val prevProvider = spark.conf.get("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", RocksDb)
    try {
      val input = MemoryStream[(Long, Timestamp, String)]
      def start() = StreamingCuration.curateWithTtl(
        input.toDF().toDF("doc_id", "ts", "text"),
        watermarkDelay = "1 minute", ttl = java.time.Duration.ofMinutes(5), params)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
      def ids(): Set[Long] =
        scala.util.Try(spark.read.parquet(outDir).select("doc_id").collect()
          .map(_.getLong(0)).toSet).getOrElse(Set.empty)

      val q1 = start()
      try {
        input.addData((1L, ts(1), text))
        q1.processAllAvailable()
      } finally q1.stop()
      assert(ids() == Set(1L))

      // duplicate arrives while the query is DOWN; fingerprint state must
      // have round-tripped through RocksDB
      input.addData((2L, ts(2), text))
      val q2 = start()
      try {
        q2.processAllAvailable()
        assert(ids() == Set(1L), "restarted state must still dedup the live fingerprint")
        // advance the watermark past expiry: the REGISTERED TIMER (also
        // checkpointed) must fire after restart and evict, re-admitting
        input.addData((3L, ts(30), "der hund und die katze sind sehr gute freunde im haus"))
        q2.processAllAvailable()
        input.addData((4L, ts(31), text))
        q2.processAllAvailable()
        assert(ids() == Set(1L, 3L, 4L),
          s"timer recovered from checkpoint evicts and re-admits: ${ids()}")
      } finally q2.stop()
    } finally spark.conf.set("spark.sql.streaming.stateStore.providerClass", prevProvider)
  }
}

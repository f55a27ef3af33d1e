package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{GraftSession, PipelineConfig}
import graft.model.Metric
import graft.operators.{MetricParse, NodePipeline}
import graft.sources.MetricDatagen

/** End-to-end streaming job — the Spark-native equivalent of
  * `run_job` (/root/reference/src/flinkarima.py:392-476).
  *
  * Source (Kafka O1 or built-in datagen O2) -> JSON parse (O3) -> fused keyed
  * pipeline (window agg O4/O5 + SARIMAX baseline O6/O7 + latest-baseline
  * alerting O9-O11, see [[NodePipeline]]) -> console sink (O12) with
  * checkpointing (O13).
  *
  * The Kafka path needs the spark-sql-kafka connector on the classpath (the
  * reference ships the Flink Kafka connector the same way,
  * /root/reference/Dockerfile:8-11); the datagen path runs self-contained.
  */
object SarimaxBaselineJob {

  /** Kafka reader options, exactly the reference consumer config
    * (flinkarima.py:379-389: bootstrap servers, topic subscription, latest
    * offsets; value deserialization is the `value` cast in [[kafkaMetrics]]).
    * Factored out so the wiring is unit-assertable in environments without
    * the spark-sql-kafka connector jar (this sandbox has no broker and no
    * connector — see KafkaWiringSpec and README).
    */
  def kafkaOptions(cfg: PipelineConfig): Map[String, String] = Map(
    "kafka.bootstrap.servers" -> cfg.bootstrapServers,
    "subscribe" -> cfg.topic,
    "startingOffsets" -> "latest")

  /** O1: Kafka source with the reference consumer semantics
    * (flinkarima.py:379-389: latest offsets, string deserialization).
    */
  def kafkaMetrics(spark: SparkSession, cfg: PipelineConfig): Dataset[Metric] = {
    val raw = spark.readStream
      .format("kafka")
      .options(kafkaOptions(cfg))
      .load()
      .select(col("value").cast("string").as("raw"))
    MetricParse.parse(raw)
  }

  def metrics(spark: SparkSession, cfg: PipelineConfig): Dataset[Metric] =
    if (cfg.useDatagen) MetricDatagen.stream(spark, cfg.datagenNodes, cfg.datagenRate)
    else kafkaMetrics(spark, cfg)

  /** Start the query: baselines + alerts to the console, like the
    * reference's two `.print()` sinks (flinkarima.py:471-474), with
    * checkpointing every trigger (O13).
    */
  def start(spark: SparkSession, cfg: PipelineConfig): StreamingQuery = {
    val checkpoint = cfg.checkpointLocation
      .getOrElse(Files.createTempDirectory("graft-checkpoint-").toString)
    NodePipeline(metrics(spark, cfg), cfg).writeStream
      .outputMode("append")
      .format("console")
      .option("truncate", value = false)
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.ProcessingTime(s"${cfg.checkpointMs} milliseconds"))
      .queryName("node-cpu-sarimax-baseline")
      .start()
  }

  def main(args: Array[String]): Unit = {
    val cfg = PipelineConfig.fromArgs(args.toSeq)
    val spark = GraftSession.getOrCreate()
    val query = start(spark, cfg)
    cfg.datagenDurationSeconds match {
      case Some(seconds) =>
        Thread.sleep(seconds * 1000L)
        query.stop()
      case None =>
        query.awaitTermination()
    }
  }
}

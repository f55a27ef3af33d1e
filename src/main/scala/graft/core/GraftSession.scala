package graft.core

import org.apache.spark.sql.SparkSession

/** SparkSession factory with scale-aware defaults.
  *
  * Local testing runs `local[32]`; the same settings are what we would ship on
  * a 1000-executor cluster: AQE on (runtime re-planning, skew-join splitting,
  * partition coalescing), shuffle partitions sized to the environment instead
  * of the 200 default, UTC session time for deterministic date semantics.
  * [[ForkFreeLocalFs.settings]] sets `spark.hadoop.fs.file.impl` and
  * `spark.hadoop.fs.AbstractFileSystem.file.impl`, so local checkpoint
  * commits run Hadoop's `chmod`/`readlink` in-process instead of forking.
  */
object GraftSession {

  def builder(master: Option[String] = None, shufflePartitions: Option[Int] = None): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val b = SparkSession
      .builder()
      .appName("graft")
      .config("spark.sql.shuffle.partitions", shufflePartitions.map(_.toString).getOrElse(cpus))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.spill.compress", "true")
      // runtime bloom-filter semi-join pruning: a selective filter on the
      // dim side of a shuffle join builds a bloom filter that prunes the
      // fact-side SCAN before the shuffle — at 100 TB this turns "shuffle
      // everything, drop 99% at the join" into "drop 99% at the reader".
      // (Spark only injects it past size thresholds, so small local runs
      // keep their plans; PlanShapeSpec pins the injection behavior.)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config(ForkFreeLocalFs.settings)
    master.orElse(Some(s"local[$cpus]")).fold(b)(b.master)
  }

  def getOrCreate(): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

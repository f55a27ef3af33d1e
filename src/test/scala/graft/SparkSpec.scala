package graft

import org.apache.spark.sql.SparkSession

import graft.core.ForkFreeLocalFs

/** One shared local session for all suites (sbt runs suites in one JVM;
  * SparkSession.builder.getOrCreate reuses it). It installs the product
  * sessions' fork-free local filesystem, so the streaming specs commit
  * their checkpoints through it.
  */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"/tmp/graft-test-warehouse-${java.util.UUID.randomUUID()}")
      .config("spark.ui.enabled", "false")
      .config(ForkFreeLocalFs.settings)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

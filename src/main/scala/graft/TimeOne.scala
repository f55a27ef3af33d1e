package graft
import org.apache.spark.sql.SparkSession

/** Single-query timing harness: runs one registered query N times through
  * the same noop-sink execution as Bench, printing per-rep seconds — the
  * tool for isolating a regression Bench can only show in aggregate.
  * Usage: runMain graft.TimeOne <query> [sfDir] [reps]
  */
object TimeOne {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || !SparkEntry.queries.contains(args(0))) {
      System.err.println("usage: TimeOne <query> [sfDir] [reps]; known queries:\n  " +
        SparkEntry.queries.keys.toSeq.sorted.mkString("\n  "))
      sys.exit(2)
    }
    val name = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the exact session Bench measures with (HarnessDefaults), so
    // single-key timings reproduce the bench's plans and codegen behavior
    val spark = HarnessDefaults.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case e: Throwable => System.err.println(s"[timeone] warmup failed: ${e.getMessage}") }
    (1 to reps).foreach { i =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"[timeone] $name rep $i: ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}

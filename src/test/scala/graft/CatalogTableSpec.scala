package graft

import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

/** `QueryCatalog.table` infers a table's parquet schema once per file
  * version: the relation it builds is the one `read.parquet` builds, a
  * repeated read runs no Spark job, each read is still a fresh relation,
  * and a rewritten file is read with its new schema.
  */
class CatalogTableSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val fixtures = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")

  private def tableNames(dir: String): Seq[String] =
    Files.list(java.nio.file.Paths.get(dir)).iterator.asScala.map(_.getFileName.toString)
      .collect { case f if f.endsWith(".parquet") => f.stripSuffix(".parquet") }.toSeq.sorted

  /** Spark jobs started by `body`. A marker job before and after brackets
    * it: the listener bus delivers job starts in order, so once the second
    * marker's start arrives, every job `body` started has arrived before it.
    */
  private def jobsStartedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val started = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        started.put(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(tag: String): Int = {
      sc.setJobDescription(tag)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      Iterator.continually(started.poll(60, TimeUnit.SECONDS))
        .takeWhile { d => assert(d != null, s"marker $tag never arrived"); d != tag }.size
    }
    sc.addSparkListener(listener)
    try { marker("table-spec-before"); body; marker("table-spec-after") }
    finally sc.removeSparkListener(listener)
  }

  test("every fixture table reads with the schema inference gives") {
    for (dir <- fixtures; name <- tableNames(dir)) {
      val inferred = spark.read.parquet(s"$dir/$name.parquet").schema
      assert(QueryCatalog.schemaOf(spark, s"$dir/$name.parquet") == inferred, s"$dir/$name")
      // `table` then only turns a timestamp `ts` into BIGINT nanoseconds
      val normalized = StructType(inferred.map {
        case f if f.name == "ts" && (f.dataType == TimestampType || f.dataType == TimestampNTZType) =>
          f.copy(dataType = LongType)
        case f => f
      })
      assert(QueryCatalog.table(spark, dir, name).schema == normalized, s"$dir/$name")
    }
  }

  test("a repeated read of one file starts no Spark job") {
    for (dir <- fixtures; name <- tableNames(dir)) {
      QueryCatalog.table(spark, dir, name)
      assert(jobsStartedBy(QueryCatalog.table(spark, dir, name).schema) == 0, s"$dir/$name")
    }
    // the bracket does count a job, so the zero above is not vacuous
    assert(jobsStartedBy(spark.read.parquet(s"${fixtures.head}/nation.parquet")) == 1)
  }

  test("a session whose parquet settings differ infers its own schema") {
    // the fixture events' ts is a parquet timestamp not adjusted to UTC
    val path = s"${fixtures.head}/events.parquet"
    assert(QueryCatalog.schemaOf(spark, path)("ts").dataType == TimestampNTZType)
    val other = spark.newSession()
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    assert(QueryCatalog.schemaOf(other, path)("ts").dataType == TimestampType)
    assert(QueryCatalog.schemaOf(spark, path)("ts").dataType == TimestampNTZType)
  }

  test("each read is a fresh relation: disjoint expression ids, self-joins resolve") {
    val dir = fixtures.head
    val a = QueryCatalog.table(spark, dir, "nation")
    val b = QueryCatalog.table(spark, dir, "nation")
    val ids = (df: DataFrame) => df.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids(a).intersect(ids(b)).isEmpty)
    def pairs(x: DataFrame, y: DataFrame): Set[Row] =
      x.as("x").join(y.as("y"), col("x.n_regionkey") === col("y.n_regionkey"))
        .select(col("x.n_nationkey"), col("y.n_nationkey")).collect().toSet
    val inferred = spark.read.parquet(s"$dir/nation.parquet")
    val want = pairs(inferred, spark.read.parquet(s"$dir/nation.parquet"))
    assert(want.size > 25) // 25 nations in 5 regions: more than the diagonal
    assert(pairs(a, b) == want)
    assert(pairs(a, a) == want)
  }

  test("a file rewritten at the same path is read with its new schema") {
    val tmp = Files.createTempDirectory("graft-table-spec")
    val dir = tmp.toString
    // a directory of part files, as Spark writes a table
    spark.range(3).selectExpr("CAST(id AS INT) AS a").write.parquet(s"$dir/t.parquet")
    assert(QueryCatalog.table(spark, dir, "t").schema.fieldNames.toSeq == Seq("a"))
    spark.range(3).selectExpr("CAST(id AS STRING) AS b", "id * 2 AS c")
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val dirTable = QueryCatalog.table(spark, dir, "t")
    assert(dirTable.schema == spark.read.parquet(s"$dir/t.parquet").schema)
    assert(dirTable.orderBy("c").collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("0", 0L), ("1", 2L), ("2", 4L)))
    // a single file, replaced by a copy of another
    def partFile(table: String) =
      Files.list(java.nio.file.Paths.get(s"$dir/$table.parquet")).iterator.asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
    spark.range(2).selectExpr("id AS x").coalesce(1).write.parquet(s"$dir/x.parquet")
    spark.range(2).selectExpr("id AS y", "'v' AS z").coalesce(1).write.parquet(s"$dir/yz.parquet")
    val single = tmp.resolve("single.parquet")
    Files.copy(partFile("x"), single)
    assert(QueryCatalog.table(spark, dir, "single").schema.fieldNames.toSeq == Seq("x"))
    Files.copy(partFile("yz"), single, StandardCopyOption.REPLACE_EXISTING)
    assert(QueryCatalog.table(spark, dir, "single").schema.fieldNames.toSeq == Seq("y", "z"))
  }

  test("an events file with TIMESTAMP(MICROS) ts still reads as BIGINT nanoseconds") {
    val dir = Files.createTempDirectory("graft-table-spec").toString
    val key = "spark.sql.parquet.outputTimestampType"
    val before = spark.conf.get(key)
    spark.conf.set(key, "TIMESTAMP_MICROS")
    try spark.sql("SELECT 7L AS user_id, TIMESTAMP'2024-01-01 00:00:01.000002' AS ts")
      .write.parquet(s"$dir/events.parquet")
    finally spark.conf.set(key, before)
    for (_ <- 1 to 2) { // the inferring read and the memoized one
      val events = QueryCatalog.table(spark, dir, "events")
      assert(events.schema("ts").dataType == LongType)
      assert(events.select("ts").head().getLong(0) == 1704067201000002L * 1000L)
    }
  }
}

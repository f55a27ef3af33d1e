package graft.ext

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Cache lifetimes in a long-lived session: an operator may materialize
  * what its returned plan reads, but it must leave no entry in the
  * session's CacheManager — neither when it returns nor after the action
  * that consumes its plan — and the returned plan must not be served from
  * a cached relation. A live CacheManager entry is served to ANY later
  * plan with the same canonical subtree and is only freed by an explicit
  * release, so it is unsafe when operators run concurrently or repeatedly
  * in one session. Graph and Clusters operators run their distributed
  * paths (`driverEdgeThreshold = 0`).
  */
class CacheLifetimeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private def cachedEntries: Int = org.apache.spark.sql.graft.CacheProbe.entries(spark)

  private def assertPlanOwned(op: => DataFrame): Array[Row] = {
    val before = cachedEntries
    val out = op
    assert(cachedEntries == before, "CacheManager entries changed by the call")
    val cached = out.queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
    assert(cached.isEmpty, s"returned plan is served from CacheManager:\n${cached.mkString("\n")}")
    val rows = out.collect()
    assert(cachedEntries == before, "CacheManager entries changed by the action")
    rows
  }

  // a seeded graph no other suite builds, so no foreign cache entry can match its plans
  private lazy val edges: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(91)
    (0 until 240).map { _ =>
      val s = rnd.nextInt(30).toLong; var d = rnd.nextInt(30).toLong
      if (d == s) d = (d + 1) % 30
      (s, d)
    }.groupBy(identity).map { case ((s, d), g) => (s, d, g.size.toLong) }.toSeq
      .toDF("src", "dst", "weight")
  }

  private lazy val docs: DataFrame = {
    import spark.implicits._
    val long1 = (1 to 30).map(i => s"lifetime$i").mkString(" ")
    val long2 = (1 to 30).map(i => s"window$i").mkString(" ")
    ((1L to 24L).map(i => i -> s"$long1 copy $i") ++
      Seq(25L -> long2, 26L -> long2, 27L -> s"$long2 $long1")).toDF("doc_id", "text")
  }

  private def sorted(rows: Array[Row]): Seq[String] = rows.map(_.toString).toSeq.sorted

  test("Graph.hits leaves no CacheManager entry") {
    assert(assertPlanOwned(Graph.hits(edges, driverEdgeThreshold = 0)).nonEmpty)
  }

  test("Graph.pagerank leaves no CacheManager entry") {
    assert(assertPlanOwned(Graph.pagerank(edges, driverEdgeThreshold = 0)).nonEmpty)
  }

  test("Graph.triangles leaves no CacheManager entry") {
    assert(assertPlanOwned(Graph.triangles(edges)).nonEmpty)
  }

  test("Graph.bfs leaves no CacheManager entry") {
    val seeds = edges.select(edges("src").as("h")).filter("h % 7 = 0")
    assert(assertPlanOwned(Graph.bfs(edges, seeds, driverEdgeThreshold = 0)).nonEmpty)
  }

  test("Graph.lpa leaves no CacheManager entry") {
    assert(assertPlanOwned(Graph.lpa(edges, driverEdgeThreshold = 0)).nonEmpty)
  }

  test("Graph.kcore leaves no CacheManager entry") {
    assert(assertPlanOwned(Graph.kcore(edges, k = 4, driverEdgeThreshold = 0)).nonEmpty)
  }

  test("Clusters.connectedComponents leaves no CacheManager entry") {
    assert(assertPlanOwned(Clusters.connectedComponents(edges, driverEdgeThreshold = 0)).nonEmpty)
  }

  test("CurationPipeline exact stage (no shared dir) leaves no CacheManager entry") {
    assume(spark.sparkContext.getCheckpointDir.isEmpty, "a checkpoint dir selects the parquet branch")
    assert(assertPlanOwned(CurationPipeline.curate(docs)).nonEmpty)
  }

  test("CurationPipeline.crawlCurate leaves no CacheManager entry") {
    assert(assertPlanOwned(CurationPipeline.crawlCurate(docs)).nonEmpty)
  }

  test("InvertedIndex.phraseRetrieval leaves no CacheManager entry") {
    val got = assertPlanOwned(InvertedIndex.phraseRetrieval(docs, Seq("p" -> "lifetime1 lifetime2")))
    assert(got.nonEmpty)
  }

  test("Density.gridDbscan leaves no CacheManager entry") {
    import spark.implicits._
    val pts = (Seq.fill(5)((1L, 1L)) ++ Seq.fill(4)((1L, 2L)) ++ Seq.fill(6)((9L, 9L)) :+ ((5L, 5L)))
      .toDF("x", "y")
    assert(assertPlanOwned(Density.gridDbscan(pts, "x", "y", 3L)).nonEmpty)
  }

  test("triangles and kcore over shared edges: two threads, three repeats each, one session") {
    // the pair whose plans share the undirected-edge subtree
    def tri(): Seq[String] = sorted(Graph.triangles(edges).collect())
    def core(): Seq[String] = sorted(Graph.kcore(edges, k = 4, driverEdgeThreshold = 0).collect())
    val before = cachedEntries
    val wantTri = tri()
    val wantCore = core()
    assert(wantTri.nonEmpty && wantCore.nonEmpty)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val runs = Seq(Future((1 to 3).map(_ => tri())), Future((1 to 3).map(_ => core())))
      val Seq(gotTri, gotCore) = Await.result(Future.sequence(runs), 5.minutes)
      gotTri.foreach(g => assert(g == wantTri))
      gotCore.foreach(g => assert(g == wantCore))
    } finally pool.shutdown()
    assert(cachedEntries == before)
  }
}

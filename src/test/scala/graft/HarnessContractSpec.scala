package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ArrayType, MapType}
import org.scalatest.funsuite.AnyFunSuite

/** The driver's correctness harness row-sorts every registered query's
  * output with pandas before hashing. Pandas cannot order array/map cells
  * (`TypeError: unhashable type: 'numpy.ndarray'` in `sort_values`), so an
  * array-typed output column nulls even the rows-only `spark_rows` signal —
  * the round-6 `pq_codes` defect. This spec closes that trap for every
  * current AND future key: each registered query's top-level schema must be
  * harness-sortable (scalars only). Library operators may still return
  * arrays (productQuantize does); the registered projection must fold them
  * (positional pack / size / checksum — the `quantize_stats` q_sum pattern).
  */
class HarnessContractSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val sf = "/root/testdata/sf0.001"

  test("every registered query emits only harness-sortable (scalar) columns") {
    val offenders = QueryCatalog.queries.toSeq.sortBy(_._1).flatMap { case (name, q) =>
      q(spark, sf).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] || f.dataType.isInstanceOf[MapType] =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(offenders.isEmpty,
      s"array/map output columns crash the driver's pandas row-sort; " +
        s"fold them into scalars in the QueryCatalog projection:\n${offenders.mkString("\n")}")
  }

  test("a throwing query lands in queries_failed, not in the medians, totals or slowest") {
    val ok: (SparkSession, String) => DataFrame = (s, _) => s.range(16).toDF("id")
    val atBuild: (SparkSession, String) => DataFrame = (_, _) => throw new IllegalStateException("boom")
    val atRun: (SparkSession, String) => DataFrame = (s, _) => s.range(1).selectExpr("raise_error('boom')")
    val (detail, line) = Bench.run(spark, sf, Seq("ok" -> ok, "fails_at_build" -> atBuild, "fails_at_run" -> atRun))
    assert(detail.contains(""""queries_failed":["fails_at_build","fails_at_run"]"""), detail)
    assert(detail.contains(""""queries":{"ok":"""), detail)
    Seq("fails_at_build", "fails_at_run").foreach { k =>
      assert(detail.split("\"" + k + "\"").length == 2, s"$k appears outside queries_failed: $detail")
      assert(!line.contains(k), line)
    }
    assert(line.contains(""""n_queries":1,"""), line)
  }

  test("every oracle key has a registered query") {
    val orphans = QueryCatalog.oracleSql.keySet -- QueryCatalog.queries.keySet
    assert(orphans.isEmpty, s"oracleSql keys with no query: $orphans")
  }

  test("SURVEY §8's key counts match the catalog (no hand-maintained drift)") {
    // three rounds in a row the SURVEY's "N registered — M oracled" line was
    // stale at judging time; this pins the LATEST round-state line to the
    // actual catalog so the count cannot drift again
    val survey = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("SURVEY.md")),
      java.nio.charset.StandardCharsets.UTF_8).replaceAll("\\s+", " ")
    val re = """(\d+) registered query keys — (\d+) with bitwise DuckDB""".r
    val m = re.findFirstMatchIn(survey)
    assert(m.nonEmpty, "SURVEY.md round-state count line not found")
    assert(m.get.group(1).toInt == SparkEntry.queries.size,
      s"SURVEY says ${m.get.group(1)} registered keys; catalog has ${SparkEntry.queries.size} — update SURVEY §8")
    assert(m.get.group(2).toInt == SparkEntry.oracleSql.size,
      s"SURVEY says ${m.get.group(2)} oracled keys; catalog has ${SparkEntry.oracleSql.size} — update SURVEY §8")
  }
}

package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Pins that the two multi-query harnesses never hide a failure: a query
  * that throws is reported as failed, never timed by [[Bench]] and never
  * left with an earlier run's output by [[Verify]]. Both mains exit
  * non-zero when the list of failed queries is non-empty. */
class HarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  // one healthy query and one that throws when its action runs
  private val planted: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ok" -> ((s: SparkSession, _: String) => s.range(10).toDF("id")),
    "q_throws" -> ((s: SparkSession, _: String) =>
      s.range(3).selectExpr("CAST(raise_error('planted') AS INT) AS x")))

  test("Bench records a throwing query as an error with no time") {
    val byName = Bench.timeQueries(spark, sf, planted, Set.empty)
      .map(t => t.name -> t).toMap
    assert(byName("q_throws").result.left.exists(_.contains("planted")))
    assert(byName("q_ok").result.exists(_ >= 0))
    val json = Bench.resultJson(byName.values.toSeq, calibration = 1.0, sf)
    assert(json.contains("\"failed\":[\"q_throws\"]"), json)
    assert(json.contains("\"queries\":{\"q_ok\":"), json)
    assert(!json.contains("\"q_throws\":"), json)
  }

  test("Verify deletes a query's stale output and reports the query that threw") {
    val out = Files.createTempDirectory("graft_verify").toString
    // an earlier run's output for the query that now throws
    spark.range(3).toDF("x").write.parquet(s"$out/q_throws")
    val failed = Verify.dumpQueries(spark, sf, out, planted)
    assert(failed == Seq("q_throws"))
    assert(!new File(s"$out/q_throws").exists())
    assert(spark.read.parquet(s"$out/q_ok").count() == 10)
  }
}

package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{lit, raise_error}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{sf001, spark}

class BenchSpec extends AnyFunSuite {

  test("a query that throws is named as failed and its time is not reported") {
    val queries = Map(
      "q1_agg" -> SparkEntry.queries("q1_agg"),
      "boom" -> ((s: SparkSession, _: String) =>
        s.range(1).select(raise_error(lit("boom")))))
    val (results, failed) = Bench.runSuite(spark, sf001, queries, reps = 1)
    assert(failed == Seq("boom"))
    // the suite total is the sum of these timings, so a failure's
    // time-to-failure can only reach it through this list
    assert(results.map(_._1) == Seq("q1_agg"))
    assert(results.forall(_._2 > 0.0))
  }
}

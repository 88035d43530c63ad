package graft.sources

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{sf001, spark}
import graft.Tables

/** The physical layouts: small-file compaction and bucketed co-located
  * joins for the repeated key joins, the last
  * asserted at the PLAN level — a layout that silently starts shuffling
  * is a perf regression the row-level tests can't see.
  */
class LayoutSpec extends AnyFunSuite {

  test("compact merges a many-small-file directory, preserving the data") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-layout-c").toString
    val dir = s"$tmp/orders_small"
    val orders = Tables.orders(spark, sf001)
    orders.repartition(24).write.parquet(dir) // deliberately fragmented
    val checksum = (d: org.apache.spark.sql.DataFrame) =>
      d.agg(org.apache.spark.sql.functions.sum("o_orderkey"),
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.lit(1)))
        .collect().head.toSeq
    val beforeSum = checksum(spark.read.parquet(dir))
    val (nBefore, nAfter) = Layout.compact(spark, dir)
    assert(nBefore == 24 && nAfter == 1, s"$nBefore -> $nAfter")
    assert(checksum(spark.read.parquet(dir)) == beforeSum)
  }

  test("bucketed tables join with zero exchanges (co-located SMJ)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-layout-b").toString
    val db = "graft_layout_spec"
    Layout.ensureDb(spark, db, tmp)
    Layout.writeBucketed(Tables.orders(spark, sf001).select("o_orderkey", "o_orderstatus"),
      db, "o_b", 4, Seq("o_orderkey"), Seq("o_orderkey"))
    Layout.writeBucketed(Tables.lineitem(spark, sf001).select("l_orderkey", "l_quantity"),
      db, "l_b", 4, Seq("l_orderkey"), Seq("l_orderkey"))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // force the non-broadcast path so the bucketed-join property is visible
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val o = spark.table(s"$db.o_b")
      val li = spark.table(s"$db.l_b")
      val joined = o.join(li, o("o_orderkey") === li("l_orderkey"))
      joined.count() // materialize so AQE finalizes the plan
      val plan = joined.queryExecution.executedPlan.toString()
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle either side:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    }
  }
}

package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables

/** r15: the graph family's edge views all derive from the shared
  * [[GraphQueries.tradePairs]] per-pair aggregate (one fact scan per
  * session instead of four). These locks pin each derived view to the
  * direct lineitem⋈orders formulation it replaced, and the width
  * heuristic to its data-derived contract.
  */
class TradePairsSpec extends AnyFunSuite {

  private val spark = graft.SparkTestBase.spark
  private val dir = "/root/testdata/sf0.001"

  test("weightedEdges ≡ direct per-pair distinct-order-count formulation") {
    val got = GraphQueries.weightedEdges(spark, dir)
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val e0 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(concat(lit("S"), col("l_suppkey")).as("src"),
        concat(lit("C"), col("o_custkey")).as("dst"))
      .agg(countDistinct(col("l_orderkey")).as("n"))
      .select(col("src"), col("dst"),
        greatest(lit(1L), lit(10L) - col("n")).as("w"))
    val want = e0.union(e0.select(col("dst").as("src"), col("src").as("dst"), col("w")))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("tradeEdges ≡ direct distinct-pair formulation") {
    val got = GraphQueries.tradeEdges(spark, dir)
    val li = Tables.lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val e0 = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .select(concat(lit("S"), col("l_suppkey")).as("src"),
        concat(lit("C"), col("o_custkey")).as("dst"))
      .distinct()
    val want = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("concomp strong edges ≡ direct quantity-threshold formulation") {
    val got = GraphQueries.tradePairs(spark, dir)
      .filter(col("qty") >= GraphQueries.CcQtyMin)
      .select((col("sk") * 2).as("a"), (col("ck") * 2 + 1).as("b"))
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_suppkey"), col("l_quantity"))
    val ord = Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
    val want = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy((col("l_suppkey") * 2).as("a"), (col("o_custkey") * 2 + 1).as("b"))
      .agg(sum(col("l_quantity")).as("q"))
      .filter(col("q") >= GraphQueries.CcQtyMin)
      .select(col("a"), col("b"))
    assert(got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0)
  }

  test("graph width is data-derived: floor 2, byte-linear, core-capped") {
    // the width every graph edge cache and round stage is built at
    def graphWidth(dir: String): Int =
      Tuned.widthForBytes(spark, graft.Tables.fileBytes(dir, "lineitem"), 1L << 20)
    val w001 = graphWidth("/root/testdata/sf0.001")
    val w01 = graphWidth("/root/testdata/sf0.01")
    val w1 = graphWidth("/root/testdata/sf0.1")
    assert(w001 >= 2, "SinglePartition would defeat co-location")
    assert(w001 <= w01 && w01 <= w1, s"width must grow with data: $w001 $w01 $w1")
    assert(w1 <= 4 * spark.sparkContext.defaultParallelism)
    // missing table → floor, never a crash
    assert(graphWidth("/nonexistent") == 2)
  }
}

package graft.queries

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{sf001, spark}

/** Smoke + spot-value tests for every registered query at sf0.001. Exact
  * value equality against the DuckDB oracle is the driver's gate
  * (tools/check.py); here we pin schema and a few hand-computed values so
  * `sbt test` catches regressions without DuckDB.
  */
class RefQueriesSpec extends AnyFunSuite {

  test("every query runs and its oracle (if SQL) is non-empty") {
    val qs = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sf001)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
    oracle.keys.foreach(k => assert(qs.contains(k), s"oracle $k has no query"))
  }

  test("the sink/scan round-trips leave no graft-s* temp dir behind") {
    import RefQueries._
    val roundTrips = Seq(s2TsvRoundtrip, s3CommentScan, s7JsonlRoundtrip, s8OrcRoundtrip,
      s9CbioSource, s10XmlRoundtrip, s11CbioStoreRoundtrip, s12SynapseFetch)
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    def entries(): Set[String] = {
      val s = java.nio.file.Files.list(tmp)
      try s.iterator().asScala.map(_.getFileName.toString).filter(_.startsWith("graft-s")).toSet
      finally s.close()
    }
    def runAll(): Unit = roundTrips.foreach(q => q(spark, sf001).collect())
    runAll()
    val before = entries()
    runAll()
    val added = entries() -- before
    assert(added.isEmpty, added.toString)
  }

  test("q1_agg groups cover the 6 returnflag/linestatus combos") {
    val rows = RefQueries.q1Agg(spark, sf001).collect()
    assert(rows.length == 6)
    val total = rows.map(_.getAs[Long]("n_rows")).sum
    assert(total == graft.Tables.lineitem(spark, sf001).count())
  }

  test("a2_approx_distinct: portable-HLL estimates within 3 sigma of exact in the raw domain") {
    import org.apache.spark.sql.functions._
    val rows = RefQueries.a2ApproxDistinct(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = graft.Tables.lineitem(spark, sf001)
      .agg(countDistinct(col("l_orderkey")), countDistinct(col("l_partkey"))).head()
    // tolerance = 3×rsd (p=8 ⇒ rsd ≈ 1.04/√256 ≈ 6.5%): a 1σ bound
    // has ~32% flake odds on any regenerated dataset; 3σ holds across
    // refreshes. Applies in the raw estimator's domain (n ≥ 2.5·m=640)
    // — orderkey (~1500 at sf0.001) is in it; partkey (~200) is BELOW
    // it, where the estimator is deterministic but biased high (no
    // linear-counting branch: ln has no cross-engine rounding
    // guarantee), so it gets the documented biased-zone bound instead:
    // never below truth, never above the n→0 asymptote α·m ≈ 185 plus
    // the true cardinality.
    val (orders, parts) = (exact.getLong(0), exact.getLong(1))
    assert(math.abs(rows("orders") - orders).toDouble / orders < 0.20,
      s"orders: ${rows("orders")} vs $orders")
    assert(rows("parts") >= (parts * 0.8).toLong &&
      rows("parts") <= parts + 250,
      s"parts (biased zone): ${rows("parts")} vs $parts")
    // controlled cardinalities spanning the raw domain: the estimator
    // itself, driven through the exact query pipeline shape
    import graft.functions.{Hashing, PortableHll}
    for (n <- Seq(2000L, 50000L)) {
      val est = spark.range(n)
        .select(Hashing.md5Long(concat(lit("a2spec:"), col("id").cast("string"))).as("h"))
        .select(PortableHll.bucket(col("h"), 8).as("b"), PortableHll.rho(col("h"), 8).as("rho"))
        .groupBy(col("b")).agg(max(col("rho")).as("reg"))
        .agg(PortableHll.z48(col("reg"), 8).as("z"))
        .select(PortableHll.estimate(col("z"), 8)).head().getLong(0)
      assert(math.abs(est - n).toDouble / n < 0.20, s"n=$n est=$est")
    }
    // determinism: identical rerun, bit-identical output (no
    // partition-order dependence in the register max-fold)
    val again = RefQueries.a2ApproxDistinct(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(again === rows)
  }

  test("p5 drops the all-null column from the schema") {
    val df = RefQueries.p5DropAllNaCols(spark, sf001)
    assert(!df.columns.contains("junk"))
    assert(df.columns.toSeq == Seq("o_orderkey", "o_orderstatus", "o_custkey"))
  }

  test("a7 keep-last yields one row per key") {
    val df = RefQueries.a7KeepLast(spark, sf001)
    assert(df.count() == df.select("o_custkey").distinct().count())
  }

  test("j3 full outer row count = matched + left-only + right-only") {
    import org.apache.spark.sql.functions._
    val n = RefQueries.j3FullOuter(spark, sf001)
      .agg(sum("n_rows")).head().getLong(0)
    val c = graft.Tables.customer(spark, sf001)
    val o = graft.Tables.orders(spark, sf001)
    val matched = c.join(o, c("c_custkey") === o("o_custkey")).count()
    val leftOnly = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").count()
    val rightOnly = o.join(c, c("c_custkey") === o("o_custkey"), "left_anti").count()
    assert(n == matched + leftOnly + rightOnly)
  }

  test("j5 live mode is bit-identical to the broadcast-join form") {
    // The r11 KeyedStore rewrite (driver O(1) — no collect().toMap):
    // the live client must remain indistinguishable from the join face.
    val live = RefQueries.j5LiveAnnotate(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val join = RefQueries.j5AnnotationJoin(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(live == join)
    assert(live.nonEmpty)
  }

  test("f9 chunks are consecutive and sized ≤ 400") {
    val rows = RefQueries.f9Chunks(spark, sf001).orderBy("chunk").collect()
    assert(rows.forall(_.getAs[Long]("n") <= 400))
    // every chunk except the last is exactly full
    assert(rows.dropRight(1).forall(_.getAs[Long]("n") == 400))
  }

  test("a warm v18_portal_rules runs at most 11 Spark jobs") {
    // the first run builds the durable fixtures; the second is the warm
    // run a benchmark repeats. 14 when the durable MAF and each package
    // read-back ran a schema or header job
    RefQueries.v18PortalRules(spark, sf001).collect()
    val sc = spark.sparkContext
    val group = "v18-warm-jobs"
    sc.setJobGroup(group, group)
    try RefQueries.v18PortalRules(spark, sf001).collect()
    finally sc.clearJobGroup()
    val jobs = sc.statusTracker.getJobIdsForGroup(group).length
    info(s"a warm v18_portal_rules launched $jobs jobs")
    assert(jobs > 0 && jobs <= 11, s"a warm v18_portal_rules launched $jobs jobs")
  }
}

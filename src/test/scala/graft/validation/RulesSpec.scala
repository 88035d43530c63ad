package graft.validation

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** The validation combinators (SURVEY §2.10 V1-V17) against tiny frames
  * with known defects — replaces the reference's caplog assertions
  * (reference tests/test_maf.py:98-142) with data assertions.
  */
class RulesSpec extends AnyFunSuite {
  import spark.implicits._

  private def report(df: org.apache.spark.sql.DataFrame, rules: Seq[Rules.Rule]) =
    Rules.evaluate(spark, df, rules).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap

  test("noNulls flags null keys (V5/V6)") {
    val df = Seq(Some("a"), None, Some("b")).toDF("SAMPLE_ID")
    val r = report(df, Seq(Rules.noNulls("SAMPLE_ID")))
    assert(r("no_null_SAMPLE_ID") == (1L, false))
  }

  test("noKeyedDups flags duplicate keys (V14/A5)") {
    val df = Seq("a", "a", "b").toDF("k")
    val r = report(df, Seq(Rules.noKeyedDups("k")))
    assert(r("no_dup_k") == (1L, false))
    val clean = report(Seq("a", "b").toDF("k"), Seq(Rules.noKeyedDups("k")))
    assert(clean("no_dup_k") == (0L, true))
  }

  test("notAllNa fails on an all-null column (V7)") {
    val df = Seq((1, None: Option[String]), (2, None)).toDF("id", "c")
    val r = report(df, Seq(Rules.notAllNa("c"), Rules.notAllNa("id")))
    assert(r("not_all_na_c")._2 == false)
    assert(r("not_all_na_id")._2 == true)
  }

  test("setEquality both directions (V10/V12/A9)") {
    val a = Seq("s1", "s2", "s3").toDF("barcode")
    val b = Seq("s1", "s2").toDF("Sample_ID")
    val rows = Rules.setEquality(spark, "ids", a, "barcode", b, "Sample_ID")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rows("ids_a_minus_b") == (1L, false))
    assert(rows("ids_b_minus_a") == (0L, true))
  }

  test("keyCensus: per-tag counts and value range per (namespace, key); nulls group") {
    import org.apache.spark.sql.functions.{col, lit, xxhash64}
    val a = Seq[(Option[String], Option[String])](
      (Some("x"), Some("1")), (Some("x"), Some("2")), (None, None)).toDF("k", "v")
    val b = Seq[Option[String]](Some("x"), Some("y"), None).toDF("k")
    val census = Rules.keyCensus(Seq(
      a -> Seq(Rules.CensusKey("n", "a", col("k"), col("v")), Rules.CensusKey("m", "a2", col("k"))),
      b -> Seq(Rules.CensusKey("n", "b", col("k")))))
    // the value range is over fingerprints of the values' string form,
    // and a hash aggregate computes it (no sort of the input rows)
    assert(!census.queryExecution.executedPlan.toString.contains("SortAggregate"))
    val Seq(h1, h2) = Seq("1", "2").map(v => spark.range(1).select(xxhash64(lit(v))).head().getLong(0))
    val rows = census.collect().map { r =>
      (r.getAs[String]("ns"), Option(r.getAs[String]("key"))) ->
        ((r.getAs[Long]("a"), r.getAs[Long]("a2"), r.getAs[Long]("b"),
          Option(r.get(r.fieldIndex("lo"))), Option(r.get(r.fieldIndex("hi")))))
    }.toMap
    assert(rows == Map(
      ("n", Some("x")) -> ((2L, 0L, 1L, Some(h1 min h2), Some(h1 max h2))),
      ("n", None) -> ((1L, 0L, 1L, None, None)),
      ("n", Some("y")) -> ((0L, 0L, 1L, None, None)),
      ("m", Some("x")) -> ((0L, 2L, 0L, None, None)),
      ("m", None) -> ((0L, 1L, 0L, None, None))))
    // null is a key on both sides, so only y is one-sided
    assert(Rules.setDifference(a, col("k"), b, col("k")) == ((0L, 1L)))
  }

  test("V15/V16 observed forms: neo-only and lens-null counts, zero extra job") {
    import graft.pipelines.ClinicalPipeline
    val clinical = Seq(("s1", "p1"), ("s2", "p2")).toDF("SAMPLE_ID", "PATIENT_ID")
    val neo = Seq(("s2", 7L), ("s9", 3L), ("s10", 1L)).toDF("SAMPLE_ID", "NEO_COUNT")
    val lens = Seq(("s1", "lens-1")).toDF("study_sample_name", "lens_id")

    val tracker = spark.sparkContext.statusTracker
    def jobs = tracker.getJobIdsForGroup(null).length

    val (merged, nObs, nRules) = ClinicalPipeline.mergeNeoantigenObserved(clinical, neo)
    merged.count() // plain action; V16 metric rides it
    val afterNeoAction = jobs
    assert(Rules.observedRows(nObs, nRules).head._2 == 2L) // s9, s10
    assert(jobs == afterNeoAction, "reading the metric must not launch a job")
    assert(!merged.columns.contains("__clin"), "tag column must not leak")

    val (lensed, lObs, lRules) = ClinicalPipeline.addLensDisplayNameObserved(clinical, lens)
    lensed.count()
    val afterLensAction = jobs
    assert(Rules.observedRows(lObs, lRules).head._2 == 1L) // s2
    assert(jobs == afterLensAction, "reading the metric must not launch a job")
  }

  test("observed rules ride the materializing action — no extra scan, same values") {
    val orders = graft.Tables.orders(spark, graft.SparkTestBase.sf001)
    val rules = Seq(Rules.rowCount("orders"), Rules.noNulls("o_orderkey"),
      Rules.notAllNa("o_orderstatus"))
    val (instrumented, obs) = Rules.observed(orders, "obs_rules_spec", rules)
    // job parity: the instrumented action must launch exactly as many
    // jobs as the plain one — validation adds NO pass of its own.
    // Count per unique job GROUP: the global job-id list is bounded by
    // spark.ui.retainedJobs, so start/end deltas go negative once a
    // long test session evicts older entries mid-measurement.
    val sc = spark.sparkContext
    def jobsIn(group: String)(body: => Unit): Int = {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.statusTracker.getJobIdsForGroup(group).length
    }
    val plainJobs = jobsIn("rules-plain") { orders.count() }
    var nRows = 0L
    var report = Map.empty[String, (Long, Boolean)]
    val instrumentedJobs = jobsIn("rules-instr") {
      nRows = instrumented.count() // stand-in for an export write
      report = Rules.observedRows(obs, rules)
        .map { case (rule, v, ok) => rule -> (v, ok) }.toMap
    }
    assert(instrumentedJobs <= plainJobs,
      s"metrics must not launch their own job ($instrumentedJobs vs $plainJobs)")
    assert(report("rows_orders") == (nRows, true))
    assert(report("no_null_o_orderkey") == (0L, true))
    assert(report("not_all_na_o_orderstatus")._2)
  }

  test("observed rules coalesce to zero on an empty frame") {
    import spark.implicits._
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    val rules = Seq(Rules.rowCount("empty"), Rules.noNulls("k"))
    val (instrumented, obs) = Rules.observed(empty, "obs_empty_spec", rules)
    instrumented.write.mode("overwrite")
      .parquet(java.nio.file.Files.createTempDirectory("graft-obs").toString + "/out")
    val rep = Rules.observedRows(obs, rules).map { case (rule, v, _) => rule -> v }.toMap
    assert(rep("rows_empty") == 0L && rep("no_null_k") == 0L)
  }

  test("standardReport over sf0.001: key-integrity rules pass, orphan orders reported") {
    val rep = Rules.standardReport(spark, graft.SparkTestBase.sf001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(rep.size == 10)
    assert(rep("no_null_o_orderkey")._2 && rep("no_dup_o_orderkey")._2)
    // the corpus genuinely contains orders without lineitems — the rule
    // must SURFACE that (value > 0, passed = false), not hide it
    assert(rep("orderkeys_a_minus_b")._1 > 0 && !rep("orderkeys_a_minus_b")._2)
    assert(rep("orderkeys_b_minus_a") == (0L, true))
  }

  test("evaluate rejects duplicate rule names instead of silently collapsing them") {
    val df = Seq("a", "b").toDF("k")
    val dup = Seq(Rules.rowCount("x"), Rules.rowCount("x"))
    val e = intercept[IllegalArgumentException](Rules.evaluate(spark, df, dup))
    assert(e.getMessage.contains("rows_x"))
  }

  test("evaluate is one aggregate pass; a lone distinct plans no Expand") {
    import org.apache.spark.sql.functions.{countDistinct, col}
    val plain = Seq(Rules.rowCount("t"), Rules.noNulls("k"))
    val d1 = Rules.Rule("d1", countDistinct(col("k")), passWhenZero = false)
    val d2 = Rules.Rule("d2", countDistinct(col("v")), passWhenZero = false)
    // the Spark contract the one-pass evaluate relies on: plains + ONE
    // distinct in a single Aggregate plans the two-level partial-distinct
    // shape with NO row-replicating Expand; a second distinct group
    // introduces it. Checked on the OPTIMIZED LOGICAL plan
    // (RewriteDistinctAggregates runs there) — the executed plan hides
    // behind AdaptiveSparkPlanExec.
    val df = Seq(("a", 1), ("a", 2), ("b", 2)).toDF("k", "v")
    def hasExpand(frame: org.apache.spark.sql.DataFrame): Boolean =
      frame.queryExecution.optimizedPlan.exists(
        _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.Expand])
    val oneD = plain :+ d1
    assert(!hasExpand(df.agg(oneD.head.agg.as(oneD.head.name),
      oneD.tail.map(r => r.agg.as(r.name)): _*)), "lone distinct must not plan an Expand")
    val twoD = df.agg(countDistinct(col("k")), countDistinct(col("v")))
    assert(hasExpand(twoD), "the >=2-distinct Expand premise no longer holds")
    // values, in the rules' order, whatever the distinct count
    val r1 = Rules.evaluate(spark, df, plain ++ Seq(d1, d2)).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq
    assert(r1 == Seq("rows_t" -> 3L, "no_null_k" -> 0L, "d1" -> 2L, "d2" -> 2L))
  }

  test("tupleHash128 distinct count ≡ tuple distinct count: adversarial nulls + corpus audit") {
    import org.apache.spark.sql.functions.{countDistinct, struct, col}
    // adversarial null placements: ('A',null) vs (null,'A') must stay
    // DISTINCT (the bitmap word); equal tuples with nulls must collide
    val adv = Seq(
      (Some("A"), None: Option[String]), (None: Option[String], Some("A")),
      (Some("A"), None), (None, None), (None, None),
      (Some("A"), Some("A")), (Some("AA"), Some("")), (Some(""), Some("AA")))
      .toDF("x", "y")
    def both(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): (Long, Long) = {
      val r = df.agg(
        countDistinct(struct(cols.map(col): _*)).as("tuple"),
        countDistinct(Rules.tupleHash128(cols.map(col))).as("hash")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (t0, h0) = both(adv, Seq("x", "y"))
    assert(t0 == 6L && h0 == 6L)
    // corpus audit: the exact 5-column variant key the MAF dup rule
    // fingerprints, over the real sf0.001 fact table
    val li = graft.Tables.lineitem(spark, graft.SparkTestBase.sf001)
    val key = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_returnflag")
    val (t1, h1) = both(li, key)
    assert(t1 == h1, s"fingerprint collision on the corpus: tuple=$t1 hash=$h1")
  }

  test("evaluate runs every job under the caller's job group") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    // (job id, job group) of every job start, in the bus's posting order
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add((e.jobId, Option(e.properties)
          .map(_.getProperty("spark.jobGroup.id")).orNull))
    }
    def seenJob(group: String): Option[Int] =
      seen.asScala.collectFirst { case (id, g) if g == group => id }
    // a one-job marker on this thread: every job of a call made between
    // two markers gets an id between theirs
    def marker(group: String): Int = {
      sc.setJobGroup(group, group)
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (seenJob(group).isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
      seenJob(group).getOrElse(fail(s"listener never saw marker $group"))
    }
    // two distinct rules: their pass plans an Expand over more than one
    // shuffle stage, so the call runs several jobs
    val df = Seq(("a", "x"), ("a", "y"), ("b", "y")).toDF("k", "v")
    val rules = Seq(Rules.noKeyedDups("k"), Rules.noKeyedDups("v"))
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("rules-group-a", "a")
      Rules.evaluate(spark, df, rules).collect()
      val start = marker("rules-group-start")
      sc.setJobGroup("rules-group-b", "b")
      val r = Rules.evaluate(spark, df, rules).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val end = marker("rules-group-end")
      assert(r == Map("no_dup_k" -> 1L, "no_dup_v" -> 1L))
      val second = seen.asScala.filter { case (id, _) => id > start && id < end }.toSeq
      assert(second.size >= 2, s"expected the rule jobs between the markers: $second")
      assert(second.forall(_._2 == "rules-group-b"), s"jobs outside the caller's group: $second")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }

  test("Async.await rethrows a task's own exception, a fatal one included") {
    import scala.concurrent.Await
    import scala.concurrent.duration._
    val plain = intercept[IllegalStateException] {
      Async.await(Async(spark)(throw new IllegalStateException("plain")))
    }
    assert(plain.getMessage == "plain")
    // Future.apply leaves its future pending on a fatal error; Async's
    // completes it (the bounded wait fails this test instead of hanging)
    val fatal = Async(spark)(throw new LinkageError("fatal"))
    Await.ready(fatal, 30.seconds)
    assert(intercept[LinkageError](Async.await(fatal)).getMessage == "fatal")
  }

  test("Async starts every task at once, more tasks than cores included") {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val n = Runtime.getRuntime.availableProcessors + 1
    val started = new CountDownLatch(n)
    // each task waits until all have started; a task queued behind the
    // others would leave them to time out
    val tasks = (1 to n).map(_ => Async(spark) {
      started.countDown()
      started.await(30, TimeUnit.SECONDS)
    })
    assert(tasks.map(Async.await).forall(identity), "a task waited for a pool thread")
  }

  test("Async.alongside rethrows only once both sides have finished") {
    val taskDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val task = Async(spark) { Thread.sleep(500); taskDone.set(true); 1 }
    val e = intercept[IllegalArgumentException] {
      Async.alongside(task)(throw new IllegalArgumentException("body"))
    }
    assert(e.getMessage == "body" && taskDone.get)
    // a failed task is rethrown after the body has finished
    val bodyDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failing = Async(spark)(throw new IllegalStateException("task"))
    val t = intercept[IllegalStateException] {
      Async.alongside(failing) { Thread.sleep(500); bodyDone.set(true) }
    }
    assert(t.getMessage == "task" && bodyDone.get)
    assert(Async.alongside(Async(spark)(1))(2) == (1, 2))
  }
}

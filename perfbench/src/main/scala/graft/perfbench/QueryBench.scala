package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** `SparkEntry.queries` on a generated corpus, in sorted name order. One
  * operation is one timed `queryExecution.toRdd.count()`, as
  * `graft.Bench` times a query, followed by `Bench`'s sweep of
  * query-private storage. The warm-up runs every query once
  * untimed: it compiles the plans, builds the shared caches and the
  * durable artifacts, and collects the rows that give each query's
  * result fingerprint.
  */
final class QueryBench(spark: SparkSession, tracer: Tracer, work: Path, seed: Long)
    extends Main.Workload {
  type Build = (SparkSession, String) => DataFrame

  /** Query name → (family, builder); the family is the module that
    * registers the query.
    */
  private val registry: Map[String, (String, Build)] = Seq(
    "ref" -> RefQueries.queries, "text" -> TextQueries.queries,
    "dedup" -> DedupQueries.queries, "sim" -> SimQueries.queries,
    "stream" -> StreamQueries.queries, "multimodal" -> MultimodalQueries.queries,
    "olap" -> OlapQueries.queries, "graph" -> GraphQueries.queries)
    .flatMap { case (fam, qs) => qs.map { case (n, f) => n -> (fam, f) } }.toMap

  private val names = QueryBench.Queries.sorted
  require(names.forall(registry.contains),
    s"unknown queries: ${names.filterNot(registry.contains).mkString(",")}")

  private var dir: String = _
  /** Query → (rows, hash) from the warm-up. */
  private val fingerprints = scala.collection.mutable.Map.empty[String, (Long, String)]
  /** Durable artifacts the warm-up built, and the warm-up seconds of
    * the queries that built them.
    */
  private var durableBuilds = 0
  private var durableBuildS = 0.0

  /** Queries whose rows hash differently when run again on the same
    * inputs.
    */
  override def unstable: Set[String] = names.filter { n =>
    try Hashing.resultOf(registry(n)._2(spark, dir).collect()) != fingerprints(n)
    finally sweep()
  }.toSet

  def prepareInputs(pass: Int): Unit = {
    dir = work.resolve(s"pass$pass/corpus").toString
    CorpusGen.generate(spark, seed, QueryBench.ScaleFactor, dir)
  }

  def warmUp(): Unit =
    names.foreach { n =>
      val before = durableRoots()
      val t0 = System.nanoTime()
      fingerprints(n) = Hashing.resultOf(registry(n)._2(spark, dir).collect())
      val built = durableRoots() -- before
      if (built.nonEmpty) {
        durableBuilds += built.size
        durableBuildS += (System.nanoTime() - t0) / 1e9
      }
      sweep()
    }

  def round(traced: Boolean): Seq[Op] = names.map { n =>
    val (fam, build) = registry(n)
    val (rows, hash) = fingerprints(n)
    try {
      val t0 = System.nanoTime()
      val counted =
        if (!traced) build(spark, dir).queryExecution.toRdd.count()
        else tracer.span(s"q.$n") {
          val df = tracer.span(s"$fam.construct")(build(spark, dir))
          tracer.span(s"$fam.plan")(df.queryExecution.executedPlan)
          tracer.span(s"$fam.exec")(df.queryExecution.toRdd.count())
        }
      val secs = (System.nanoTime() - t0) / 1e9
      if (traced) tracer.sample()
      Op(n, secs, Some(s"rows=$rows hash=$hash"),
        if (counted == rows) None else Some(s"timed run counted $counted rows, set-up $rows"))
    } catch {
      case scala.util.control.NonFatal(e) => Op(n, 0.0, None, Some(e.toString))
    } finally sweep()
  }

  def layers(spans: Seq[Span], rounds: Int): Map[String, Double] = {
    def per(xs: Iterable[Double]): Double = xs.sum / rounds
    val byName = spans.groupBy(_.name)
    def total(suffix: String) = per(spans.filter(_.name.endsWith(suffix)).map(_.seconds))
    val families = registry.values.map(_._1).toSeq.distinct.flatMap { fam =>
      val parts = spans.filter(_.name.startsWith(s"$fam."))
      val c = new Counts
      parts.foreach(s => c.add(s.self))
      Seq(s"$fam.s" -> per(spans.filter(s => s.name.startsWith("q.") &&
          registry.get(s.name.drop(2)).exists(_._1 == fam)).map(_.seconds)),
        s"$fam.jobs" -> c.jobs.toDouble / rounds, s"$fam.tasks" -> c.tasks.toDouble / rounds,
        s"$fam.shuffle_mb" -> c.shuffleBytes / 1048576.0 / rounds,
        s"$fam.spill_mb" -> c.spillBytes / 1048576.0 / rounds)
    }
    Map("construct.s" -> total(".construct"), "plan.s" -> total(".plan"), "exec.s" -> total(".exec"),
      "q.v18_portal_rules.s" -> per(byName.getOrElse("q.v18_portal_rules", Nil).map(_.seconds)),
      "q.v_report.s" -> per(byName.getOrElse("q.v_report", Nil).map(_.seconds)),
      "durable.builds" -> durableBuilds.toDouble, "durable.build_s" -> durableBuildS,
      "framecache.rdds" -> FrameCache.ownedRddIds(spark).size.toDouble) ++ families
  }

  /** `graft.Bench`'s storage sweep: drop every persisted RDD that no
    * shared FrameCache frame owns.
    */
  private def sweep(): Unit = {
    val keep = FrameCache.ownedRddIds(spark)
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!keep.contains(id)) { rdd.unpersist(blocking = false); () }
    }
  }

  /** The built roots of `graft.sources.DurableIndex` under this JVM's
    * temp directory (in-progress `build-*` directories excluded).
    */
  private def durableRoots(): Set[Path] = {
    def list(dir: Path): Seq[Path] = {
      val s = Files.list(dir)
      try s.iterator().asScala.toSeq finally s.close()
    }
    list(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
      .filter(p => Files.isDirectory(p) && p.getFileName.toString.startsWith("graft-"))
      .flatMap(list).filterNot(_.getFileName.toString.startsWith("build-")).toSet
  }

}

object QueryBench {
  /** Corpus size: lineitem ≈ 6M × sf rows. */
  val ScaleFactor = 0.002

  /** The measured subset: every family, every custom operator and plan
    * rewrite, the FrameCache and DurableIndex users, and the two
    * validation queries. All 203 queries do not fit a run's time budget:
    * one timed pass over them takes about 40 s even on a 6,000-row
    * corpus at 4 cores.
    */
  val Queries: Seq[String] = Seq(
    // ref: aggregation, UnwrapCastKeyJoin, binned range join, PrefixSum
    // chunking, and the two validation queries (PortalRules, Rules)
    "q1_agg", "j2_cast_key_join", "j9_range_join", "f9_chunks", "v18_portal_rules", "v_report",
    // text: the decontamination index (DurableIndex)
    "td_decontaminate",
    // dedup: the shared gram index (DurableIndex, FrameCache)
    "dd_prefix_join",
    // similarity search over cached index frames
    "sim_ivf_topk",
    // streaming batch faces: as-of join, PrefixSum
    "ev_asof", "ev_concurrency",
    "mm_dedup",
    // olap: sketch registers
    "a15_hll_union",
    // graph: iterative rounds with checkpoints
    "g_pagerank")
}

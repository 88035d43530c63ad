package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-audit harness (test scope, never shipped): the measurements the
  * round-10 verdict asked for, runnable at any sfDir —
  *
  *  1. `knn`  — sim_knn_graph candidate accounting (the dd_typo_pairs-
  *     style decomposition): candidate-pair volume, bucket occupancy,
  *     and the output size that together explain the query's
  *     second-decade ratio.
  *  2. `simhash` — machine-verified wide ≡ narrow equivalence of the
  *     two SimHash candidate generators AT the scale where the switch
  *     actually changes the generator (the sf0.01 oracle gate runs far
  *     below the 100k-doc threshold, and DuckDB times out at sf10, so
  *     only a Spark-vs-Spark comparison can cover the wide path's
  *     domain).
  *  3. `prefix` — lshSigBits prefix stability at scale: the ladder's
  *     widened signature masked to its low bits must equal the narrower
  *     signature bit-for-bit (the invariant that makes the N-adaptive
  *     ladder safe to extend).
  *
  * Plus `graph` (per-round cost accounting for the iterative graph
  * family) and `ppjoin` (stage accounting for dd_prefix_join's
  * prefix/candidate/position-filter pipeline, run against the
  * PRODUCTION stage functions).
  *
  * Run: sbt "Test/runMain graft.queries.ScaleChecks <sfDir>
  *           [knn|simhash|prefix|graph|ppjoin|all]"
  */
object ScaleChecks {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata-sf1")
    val what = args.lift(1).getOrElse("all")
    val spark = graft.LocalSession(32)
    if (what == "knn" || what == "all") knnAccounting(spark, dir)
    if (what == "simhash" || what == "all") simhashEquivalence(spark, dir)
    if (what == "prefix" || what == "all") prefixStability(spark, dir)
    if (what == "graph" || what == "all") graphAccounting(spark, dir)
    if (what == "ppjoin" || what == "all") ppjoinAccounting(spark, dir)
    spark.stop()
  }

  private def time[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[scale] $name%-44s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    r
  }

  /** Candidate volume + bucket occupancy of sim_knn_graph's banded
    * self-join at this corpus size, under the CURRENT planes ladder.
    */
  def knnAccounting(spark: SparkSession, dir: String): Unit = {
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val p = DedupQueries.lshPlanesPerBand(n)
    println(s"[scale] knn: n_vectors=$n planesPerBand=$p buckets/band=${1L << p}")
    val banded = SimQueries.explodeBands(
      emb.withColumn("sig", SimQueries.lshSigBits(2 * p)), p)
      .select(col("vec_id"), col("band"), col("bv"))
    val occ = banded.groupBy(col("band"), col("bv")).agg(count(lit(1)).as("sz"))
    val stats = occ.agg(
      count(lit(1)).as("n_buckets"),
      max(col("sz")).as("max_occ"),
      avg(col("sz")).as("avg_occ"),
      sum(expr("sz * (sz - 1) DIV 2")).as("cand_pairs")).head()
    println(s"[scale] knn: occupied_buckets=${stats.getLong(0)} " +
      s"max_occ=${stats.getLong(1)} avg_occ=${"%.1f".format(stats.getDouble(2))} " +
      s"candidate_pairs=${stats.getLong(3)}")
    val out = time("knn graph full query")(
      SimQueries.simKnnGraph(spark, dir).count())
    println(s"[scale] knn: output_edges=$out")
  }

  /** Wide (Manku–Jain–Sarma block-combination) vs narrow (4×15-bit
    * band) SimHash candidate generation must produce the SAME final
    * pair set — both are supersets of hamming ≤ 3 ahead of the same
    * exact filter. Verified by symmetric anti-joins (count both ways).
    */
  def simhashEquivalence(spark: SparkSession, dir: String): Unit = {
    val sh = DedupQueries.ddSimhash(spark, dir)
      .localCheckpoint() // one simhash pass feeds both generators
    def pairs(wide: Boolean): DataFrame =
      DedupQueries.simhashPairsOf(sh, wide)
        .select(col("doc_a"), col("doc_b"))
    val narrow = time("narrow (4x15) generator")(pairs(wide = false).localCheckpoint())
    val wide = time("wide (MJS 3-of-6) generator")(pairs(wide = true).localCheckpoint())
    val nOnly = narrow.join(wide, Seq("doc_a", "doc_b"), "left_anti").count()
    val wOnly = wide.join(narrow, Seq("doc_a", "doc_b"), "left_anti").count()
    val nN = narrow.count(); val nW = wide.count()
    println(s"[scale] simhash: narrow_pairs=$nN wide_pairs=$nW " +
      s"narrow_only=$nOnly wide_only=$wOnly " +
      (if (nOnly == 0 && wOnly == 0) "EQUAL" else "MISMATCH"))
    require(nOnly == 0 && wOnly == 0,
      "wide and narrow SimHash generators disagree — pigeonhole guarantee broken")
  }

  /** lshSigBits(m) masked to w low bits must equal lshSigBits(w) for
    * every even width w ≤ m — verified on the full corpus, not a
    * fixture.
    */
  def prefixStability(spark: SparkSession, dir: String): Unit = {
    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val full = SimQueries.lshSigBits(SimQueries.MaxPlanes)
    val steps = (3 to SimQueries.MaxPlanes / 2).map(_ * 2)
    val checks = steps.map { w =>
      val narrow = SimQueries.lshSigBits(w)
      sum(when(full.bitwiseAND(lit((1L << w) - 1)) =!= narrow, 1L).otherwise(0L))
        .as(s"mismatch_$w")
    }
    val row = emb.select(checks: _*).head()
    val bad = steps.zipWithIndex.filter { case (_, i) => row.getLong(i) != 0L }
    println(s"[scale] prefix: widths=${steps.mkString(",")} " +
      (if (bad.isEmpty) "ALL-STABLE"
       else s"MISMATCH at ${bad.map(_._1).mkString(",")}"))
    require(bad.isEmpty, "lshSigBits prefix stability violated")
  }

  /** Per-round cost accounting for the iterative graph family
    * (g_pagerank / g_sssp / g_khop / g_random_walk): materialize every
    * round separately with the EXACT production round plan (the
    * private[queries] round functions the queries themselves fold
    * over) and report (round, rows, wall). The claim under audit: total
    * cost = rounds × (one join against the src-partitioned cached edge
    * table + one aggregate), with per-round data volume bounded by the
    * frontier/rank frame, never re-deriving prior rounds — so the
    * family's wall time is round count × frontier-join cost, the shape
    * that survives a 100× scale-up.
    */
  def graphAccounting(spark: SparkSession, dir: String): Unit = {
    import GraphQueries._
    def round(tag: String, i: Int)(f: => DataFrame): DataFrame = {
      val t0 = System.nanoTime()
      val out = f.localCheckpoint()
      val rows = out.count()
      println(f"[scale] graph $tag%-12s round $i: rows=$rows%-10d " +
        f"${(System.nanoTime() - t0) / 1e9}%7.3f s")
      out
    }
    val edges = tradeEdges(spark, dir)
    val ne = time("graph edge cache build+count (shared)")(edges.count())
    val deg = tradeDeg(spark, dir)
    val n = deg.count()
    println(s"[scale] graph: edges=$ne nodes=$n")

    // g_pagerank — dense iteration: every round's frame is all N nodes,
    // join input is the full edge cache (rank moves, edges do not)
    val teleport = (PrTotalPpb - PrDampNum * PrTotalPpb / PrDampDen) / n
    var rank = deg.withColumn("rank", lit(PrTotalPpb / n)).localCheckpoint()
    (1 to PrIters).foreach { i =>
      rank = round("pagerank", i)(pagerankRound(edges, deg, rank, teleport))
    }

    // g_sssp — the distance frame grows toward N then saturates;
    // relaxation input per round = |frontier ⋈ edges|
    val wedges = weightedEdges(spark, dir)
    time("graph weighted edge cache build+count")(wedges.count())
    var dist = wedges
      .filter(col("src").startsWith("S") &&
        substring(col("src"), 2, 18).cast("long") < KhopSeedMax)
      .select(col("src").as("node")).distinct()
      .withColumn("dist", lit(0L)).localCheckpoint()
    println(s"[scale] graph sssp seeds=${dist.count()}")
    (1 to SsspRounds).foreach { i =>
      dist = round("sssp", i)(ssspRound(wedges, dist))
    }

    // g_khop — BFS frontier: reported rows are the NEW nodes per hop
    // (the anti-join output), the quantity that bounds the next round
    val seeds = tradeDeg(spark, dir)
      .filter(col("node").startsWith("S") &&
        substring(col("node"), 2, 18).cast("long") < KhopSeedMax)
      .select(col("node"))
    var vis = seeds.withColumn("dist", lit(0)).localCheckpoint()
    var frontier = vis.select(col("node"))
    println(s"[scale] graph khop seeds=${vis.count()}")
    (1 to KhopRounds).foreach { i =>
      val next = round("khop", i)(khopExpand(edges, vis, frontier, i))
      vis = vis.union(next).localCheckpoint()
      frontier = next.select(col("node"))
    }

    // g_random_walk — frontier is walk-count-sized (seed cohort) at
    // every step: per-round cost is constant in the graph size
    var walkers = tradeDeg(spark, dir)
      .filter(col("node").startsWith("S") &&
        substring(col("node"), 2, 18).cast("long") < KhopSeedMax)
      .select(col("node").as("start"), col("node").as("cur"))
      .localCheckpoint()
    (1 to WalkSteps).foreach { i =>
      walkers = round("random_walk", i)(walkStep(edges, walkers, i))
    }
  }

  /** Stage accounting for dd_prefix_join (the PPJoin family): the claim
    * under audit is candidate volume = Σ_gram prefix-df(gram)² bounded by
    * the rare-first canonical order. Reports gram/prefix/candidate/verify
    * volumes plus per-stage wall time, so a corpus whose duplication
    * structure defeats the prefix filter (candidates ≫ output) is visible
    * as data, not as an opaque slow query.
    */
  def ppjoinAccounting(spark: SparkSession, dir: String): Unit = {
    // the PRODUCTION stage functions, not a copy — a constant or filter
    // change in prefixJoinOf is automatically what gets audited here
    val grams = TextQueries.sharedGramStream(spark, dir)
    val ng = time("gram stream build+count")(grams.count())
    val nd = grams.select(col("doc_id")).distinct().count()
    println(s"[scale] ppjoin: grams=$ng docs=$nd avg_grams_per_doc=${ng / math.max(nd, 1)}")

    val prefix = DedupQueries.rankedPrefix(grams).localCheckpoint()
    val np = time("prefix build (df + rank + filter)")(prefix.count())
    val pstats = prefix.groupBy(col("gram")).agg(count(lit(1)).as("pdf"))
      .agg(max(col("pdf")).as("max_pdf"),
        sum(col("pdf") * (col("pdf") - 1) / 2).as("cand_bound")).head()
    println(s"[scale] ppjoin: prefix_rows=$np max_prefix_df=${pstats.getLong(0)} " +
      s"sum_pdf_choose2=${pstats.getDouble(1).toLong}")

    val matches = DedupQueries.plainCandidates(prefix).localCheckpoint()
    val nPlain = time("candidate pairs (plain prefix filter)")(matches.count())
    val cand = DedupQueries.positionFiltered(matches).localCheckpoint()
    val nc = time("candidates after POSITION filter")(cand.count())
    val vin = cand.agg(sum(col("sa") + col("sb"))).head().getLong(0)
    println(s"[scale] ppjoin: plain_candidates=$nPlain post_position=$nc " +
      s"hash_verify_gram_rows≈$vin")
    // Output size only — deliberately NOT timed: this JVM has just
    // built and checkpointed the stage frames above, so a single-shot
    // end-to-end time here is an uncontrolled-storage artifact, not a
    // benchmark (observed 23.5 s in one session and 96.8 s in another
    // for the identical plan). End-to-end numbers for dd_prefix_join
    // come from Bench solo (warmup + reps-min), nowhere else.
    val out = DedupQueries.queries("dd_prefix_join")(spark, dir).count()
    println(s"[scale] ppjoin: output_pairs=$out")
  }
}

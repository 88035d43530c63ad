package graft

import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, JoinType, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, LogicalPlan}
import org.apache.spark.sql.execution.QueryExecution
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{sf001, spark}

/** Structural guard over EVERY registered query's physical plan: no
  * CartesianProduct and no BroadcastNestedLoopJoin anywhere, so "never a
  * cross product" holds for future queries by construction, not only for
  * the individually audited headline plans (the last test here, and
  * PlanChecksSpec). The only
  * tolerated shape is the broadcast SCALAR/control-table cross join
  * (a 1-row or catalog-sized build side joined without keys), which is
  * how per-corpus constants (total token count, centroid tables, scale
  * factors) reach every row — those queries are allowlisted BY NAME and
  * re-justified here so additions stay deliberate.
  *
  * The same sweep also rejects broadcast() hints that Spark must drop: a
  * hint on a join side its join type cannot build is dead code that
  * reads as a plan decision and logs a HintErrorLogger line per query.
  */
class PlanSweepSpec extends AnyFunSuite {

  /** Queries whose plan intentionally contains a keyless broadcast join
    * of a scalar/control frame (≤ centroid-table size, always wrapped in
    * broadcast()): the join multiplies rows by ~1, never n². */
  private val broadcastScalarAllowlist: Set[String] = Set(
    "sim_topk_brute", // probe rows × corpus: the brute-force baseline IS keyless by design
    "sim_recall_report", // embeds sim_topk_brute as its exact-truth side by definition
    "sim_quantize", // per-dim scale constants (1 row) against every embedding
    "sim_ivf_probe2", // probe × broadcast nprobe-bucket table (bounded by nlist)
    "sim_pq_topk", // probe × broadcast PQ codebook constants
    "ta_unigram_lp", "ta_tfidf", // 1-row corpus totals broadcast to every row
    "ta_bm25", // 1-row (N, total-length) stats broadcast to the matched postings
    "ta_kl_drift", // k-source totals × broadcast (V+1)-cell table: the dense smoothing grid, bounded by KlTopV
    "dd_jaccard_ngram", // DOCUMENTED bounded brute-force (doc_id < 50 ⇒ ≤ 1225 pairs): the exact-verification primitive whose scale path is the LSH candidate join
    "a15_hll_union" // two 1-row sketch-rollup frames (union estimate × per-source rollup) combined into the single output row
  )

  /** Every registered query, built once for every check: its
    * QueryExecution, its optimized logical plan and its physical plan,
    * rendered. */
  private lazy val plans: Seq[(String, QueryExecution, LogicalPlan, String)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe = fn(spark, sf001).queryExecution
      (name, qe, qe.optimizedPlan, qe.sparkPlan.toString)
    }

  private def count(p: String, re: String): Int = re.r.findAllMatchIn(p).size
  private def exchanges(p: String): Int = count(p, "(?m)^[ :]*(\\+- |:- )?Exchange ")
  private def hashExchangesOn(p: String, key: String): Int =
    count(p, s"Exchange hashpartitioning\\($key#")
  private def scans(p: String, table: String): Int = count(p, s"/$table\\.parquet\\]")
  private def pushed(p: String, table: String, col: String): Boolean =
    count(p, s"/$table\\.parquet\\][^\n]*PushedFilters: \\[[^\\]]*$col") > 0
  private def joins(p: String): Boolean =
    count(p, "(HashJoin|SortMergeJoin|NestedLoopJoin|CartesianProduct)") > 0
  private def equiJoinOn(p: String, left: String, right: String): Boolean =
    count(p, s"(HashJoin|SortMergeJoin) \\[$left#\\d+L?\\], \\[$right#\\d+L?\\]") > 0
  private def equiJoin(p: String): Boolean = count(p, "(HashJoin|SortMergeJoin) \\[") > 0
  private def windows(p: String): Int = count(p, "(?m)^[ :]*(\\+- |:- )?Window \\[")
  private def sorts(p: String): Int = count(p, "(?m)^[ :]*(\\+- |:- )?Sort \\[")

  /** The subtree under the first line of `p` that contains `node`. */
  private def below(p: String, node: String): String = {
    val lines = p.linesIterator.toVector
    val i = lines.indexWhere(_.contains(node))
    if (i < 0) ""
    else {
      val col = lines(i).indexWhere(_.isLetter)
      lines.drop(i + 1).takeWhile(_.indexWhere(_.isLetter) > col).mkString("\n")
    }
  }

  /** The scale property each headline query's plan must exhibit, as a
    * check over its executed plan at sf0.001. PlanChecksSpec holds the
    * rest of the audited headline plans, at two scales. */
  private val audited: Seq[(String, String, String => Boolean)] = Seq(
    ("q1_agg", "partial aggregates run below the exchange (map-side combine)",
      p => below(p, "Exchange").contains("partial_sum(l_quantity")),
    ("j7_bucketed_colocated", "bucketed scans on both sides: SortMergeJoin with no Exchange below it",
      p => p.contains("SortMergeJoin") && !below(p, "SortMergeJoin").contains("Exchange") &&
        count(p, "Bucketed: true") == 2),
    ("a9_set_equality", "a single key shuffle over the tagged union: both directions in one pass",
      p => count(p, "Exchange hashpartitioning") == 1 &&
        below(p, "Exchange hashpartitioning").contains("Union")),
    ("dd_minhash_pairs", "cached signature frame; band-bucket equi-join",
      p => p.contains("InMemoryTableScan") && equiJoin(p)),
    ("ta_winnow", "one Generate over the scan, no exchange",
      p => exchanges(p) == 0 && count(p, "Generate ") == 1),
    ("h3_shipping_priority", "filters pushed to all three scans; dims broadcast; top-10 TakeOrderedAndProject",
      p => pushed(p, "lineitem", "l_shipdate") && pushed(p, "orders", "o_orderdate") &&
        pushed(p, "customer", "c_mktsegment") && count(p, "BroadcastHashJoin") >= 2 &&
        p.contains("TakeOrderedAndProject(limit=10")),
    ("h5_nation_revenue", "every dimension a BroadcastHashJoin",
      p => count(p, "BroadcastHashJoin") >= 4),
    ("a10_rollup", "Expand below one exchange, partial aggregates map-side",
      p => exchanges(p) == 1 && below(p, "Exchange").contains("Expand") &&
        below(p, "Exchange").contains("partial_")),
    ("p9_unpivot", "melt is a per-row Expand: no exchange",
      p => exchanges(p) == 0 && p.contains("Expand")),
    ("dd_lev_pairs", "explicit repartition pins the verify stage's parallelism",
      p => p.contains("REPARTITION_BY_NUM")),
    ("o4_range_frame", "one exchange; RangeFrame(-3600000, currentrow) sliding frame",
      p => exchanges(p) == 1 && p.contains("RangeFrame, -3600000, currentrow")),
    ("h10_returned_items", "l_returnflag pushed to the fact scan; dims broadcast; top-20",
      p => pushed(p, "lineitem", "l_returnflag") && count(p, "BroadcastHashJoin") >= 3 &&
        p.contains("TakeOrderedAndProject(limit=20")),
    ("h18_large_orders", "HAVING cuts the aggregate below both joins",
      p => count(below(below(p, "BroadcastHashJoin"), "BroadcastHashJoin"), "sum_qty#\\d+ > ") > 0),
    ("j11_skew_salted", "both join sides shuffle on (key, salt)",
      p => count(p, "Exchange hashpartitioning\\(k#\\d+L, __salt#") == 2),
    ("sql_tpch_q21", "EXISTS + NOT EXISTS: one left-semi and one left-anti join",
      p => p.contains("LeftSemi") && p.contains("LeftAnti") && !p.contains("Subquery")),
    ("sql_tpch_q2", "correlated min decorrelated: min per part aggregated once, joined back",
      p => !p.contains("Subquery") && count(p, "functions=\\[min\\(l_extendedprice") == 1),
    ("sql_tpch_q19", "p_partkey = l_partkey extracted as the hash key from the disjunction",
      p => equiJoinOn(p, "l_partkey", "p_partkey")),
    ("dd_para_dedup", "one corpus scan; first occurrence by window, no self-join",
      p => scans(p, "documents") == 1 && windows(p) >= 1 && !joins(p)),
    ("j9_range_join", "BinnedRangeJoin: an equi-join on the bin, no nested loop",
      p => p.contains("__graft_bin") && equiJoin(p) && !p.contains("NestedLoopJoin")),
    ("h17_small_quantity", "correlated scalar subquery decorrelated to an l_partkey equi-join",
      p => !p.contains("Subquery") && equiJoinOn(p, "l_partkey", "l_partkey")),
    ("h22_wealthy_inactive", "NOT EXISTS planned as a broadcast left-anti join",
      p => count(p, "BroadcastHashJoin[^\\n]*LeftAnti") == 1),
    ("td_pack", "prefix sum from the PrefixSum operator, never a partitionless window",
      p => p.contains("Scan ExistingRDD") && windows(p) == 0 && !p.contains("SinglePartition")),
    ("td_decontaminate", "might_contain prefilter, exact LeftSemi above it",
      p => p.contains("might_contain") && p.contains("LeftSemi")),
    ("ev_funnel", "one user_id exchange serves both windows; no self-join",
      p => hashExchangesOn(p, "user_id") == 1 && windows(p) == 2 && !joins(p)),
    ("dd_embed_neardup_lsh", "banded LSH: bucket explode and equi-join, never a nested loop",
      p => p.contains("Generate ") && equiJoin(p) && !p.contains("NestedLoopJoin")),
    ("ev_left_interval", "left-outer range-bounded equi-join on user_id",
      p => count(p, "HashJoin \\[user_id#\\d+L\\], \\[p_user_id#\\d+L\\], LeftOuter") == 1),
    ("ta_source_overlap", "one winnow pass, bit_or mask aggregate, no fp self-join",
      p => scans(p, "documents") == 1 && p.contains("bit_or(") && !joins(p)),
    ("td_redact", "map-only pii_redact projection: no exchange",
      p => exchanges(p) == 0 && p.contains("pii_redact")),
    ("dd_simhash_agg", "md5long60 in the Project below the partial ObjectHashAggregate",
      p => below(p, "partial_simhash_agg").contains("md5long60")),
    ("ev_json", "map-only json_int_key scan: no exchange, no get_json_object",
      p => exchanges(p) == 0 && p.contains("json_int_key") && !p.contains("get_json_object")),
    ("dd_substring", "one corpus scan of compiled gram hashes; no self-join",
      p => scans(p, "documents") == 1 && p.contains("word_gram_hashes") && !joins(p)),
    ("sim_kmeans", "map-only assignment over the cached vectors: no join",
      p => p.contains("InMemoryTableScan") && !joins(p)),
    ("td_domain_mix", "one corpus aggregation; the single-partition windows run over its k rows",
      p => scans(p, "documents") == 1 &&
        below(p, "Exchange SinglePartition").contains("HashAggregate(keys=[source")),
    ("ta_kl_drift", "top-V by TakeOrderedAndProject; broadcast membership join",
      p => p.contains("TakeOrderedAndProject") && p.contains("BroadcastHashJoin")),
    ("td_weighted_sample", "collected rates re-enter as a broadcast local frame; one corpus scan",
      p => below(p, "BroadcastExchange").contains("LocalTableScan") && scans(p, "documents") == 1),
    ("ta_inverted_index", "per-document tf pre-aggregate, then one token shuffle",
      p => exchanges(p) == 1 && p.contains("tok_tf(") && below(p, "Exchange").contains("partial_count")),
    ("ta_bpe_pairs", "pair explosion runs over the aggregated vocabulary",
      p => below(p, "Generate").contains("HashAggregate(keys=[tok")),
    ("sim_inertia", "map-only until the one k-row aggregate",
      p => exchanges(p) == 1 && p.contains("InMemoryTableScan") && !joins(p)),
    ("dd_lsh_stats", "reuses the cached signature table; no pair join",
      p => p.contains("InMemoryTableScan") && !joins(p)),
    ("sim_recall_report", "both ranking sides from cached frames; left join on (query, neighbor)",
      p => count(p, "InMemoryTableScan") >= 2 && p.contains("LeftOuter")),
    ("td_upsample", "rates broadcast onto the scan; copy explode before the only summary shuffle",
      p => below(p, "Generate").contains("BroadcastHashJoin") &&
        below(p, "Exchange hashpartitioning").contains("Generate")),
    ("ev_retention", "one event scan; cohort by window on the distinct frame, no join",
      p => scans(p, "events") == 1 && windows(p) >= 1 && !joins(p)),
    ("mm_dedup", "only (fp, id, size) shuffle: the payload never leaves the scan stage",
      p => {
        val map = below(p, "Exchange").linesIterator.take(1).mkString
        map.contains("output=[fp#") && !map.contains("payload")
      }),
    ("j12_asof_nearest", "two as-of window passes and an equi-join on event_id",
      p => windows(p) >= 2 && equiJoinOn(p, "event_id", "event_id") && !p.contains("NestedLoopJoin")),
    ("o7_mom_change", "dims broadcast; lag window; DECIMAL money",
      p => count(p, "BroadcastHashJoin") >= 2 && windows(p) >= 1 && p.contains("decimal(")),
    ("dd_source_dup_rate", "one scan; dup-group sizes by window, no join-back",
      p => scans(p, "documents") == 1 && windows(p) >= 1 && !joins(p)),
    ("a15_hll_union", "union is a register-max merge, partial-aggregated map-side",
      p => below(p, "Exchange hashpartitioning(b#").contains("partial_max(reg")),
    ("ev_transitions", "one event-volume shuffle (the per-user lead window)",
      p => hashExchangesOn(p, "user_id") == 1 && scans(p, "events") == 1 && !joins(p)),
    ("a17_equidepth", "global rank from the PrefixSum operator, never a partitionless window",
      p => p.contains("Scan ExistingRDD") && windows(p) == 0 && !p.contains("SinglePartition")),
    ("a16_topk_agg", "the top-k heap aggregate rides one shuffle; no Sort node",
      p => exchanges(p) == 1 && p.contains("ObjectHashAggregate") && sorts(p) == 0),
    ("dd_semdedup", "cached cluster assignment; LSH equi-join within clusters",
      p => p.contains("InMemoryTableScan") && equiJoin(p) && !p.contains("NestedLoopJoin")),
    ("g_pagerank", "each round joins the cached edge table; integer ppb ranks",
      p => p.contains("InMemoryTableScan") && p.contains(" div ") && !p.contains("NestedLoopJoin")),
    ("sim_knn_graph", "LSH bucket equi-join; per-source top-k by WindowGroupLimit",
      p => equiJoin(p) && p.contains("WindowGroupLimit")),
    ("g_jaccard_sim", "rank <= k plans WindowGroupLimit",
      p => p.contains("WindowGroupLimit")),
    ("ta_ngram_novelty", "the gram stream is repartitioned once by gram and persisted",
      p => p.contains("REPARTITION_BY_NUM") && p.contains("InMemoryTableScan")),
    ("ev_cusum", "running-reset CUSUM as windows over one exchange; no join",
      p => exchanges(p) == 1 && windows(p) >= 2 && !joins(p)),
    ("ev_concurrency", "sweep-line running sum from the PrefixSum operator, never a partitionless window",
      p => p.contains("Scan ExistingRDD") && windows(p) == 0 && !p.contains("SinglePartition")),
    ("td_curriculum", "quantile boundaries as literals: a map with no window, sort or exchange",
      p => exchanges(p) == 0 && windows(p) == 0 && sorts(p) == 0),
    ("dd_prefix_join", "one gram partitioning reused across df, ranking and both join sides",
      p => p.contains("ReusedExchange") && equiJoin(p) && !p.contains("NestedLoopJoin")),
    ("o8_pareto", "the only partitionless window runs over the per-date maxima; frontier broadcasts back",
      p => p.contains("BroadcastHashJoin") &&
        below(p, "Exchange SinglePartition").contains("HashAggregate(keys=[o_orderdate")),
    ("u8_mv_delta", "view + delta aggregates merged by one full-outer join",
      p => count(p, "FullOuter") == 1 && p.contains("partial_sum")),
    ("ta_cooccur", "frequent-item semi-join prunes the baskets before the pair stage",
      p => p.contains("LeftSemi") && p.contains("InMemoryTableScan") && !p.contains("NestedLoopJoin")),
    ("ev_cum_uniques", "first-seen day per user; the running sum windows over the day-sized frame",
      p => below(p, "Exchange SinglePartition").contains("functions=[min(day")),
    ("g_clustering", "left join sized by the triangle table; integer micro-ratio",
      p => p.contains("LeftOuter") && p.contains(" div ") && !p.contains("NestedLoopJoin")),
    ("dd_typo_pairs", "deletion-variant index: candidates by equi-join on the variant key",
      p => p.contains("Generate ") && equiJoin(p) && !p.contains("NestedLoopJoin")),
    ("td_boilerplate", "one chunk-hash shuffle for df, one doc_id shuffle to reassemble",
      p => exchanges(p) == 2 && p.contains("dense_rank(") && p.contains("collect_list(") && !joins(p)),
    ("ev_rolling_distinct", "cached (user, day) dedup; both boundary deltas from one explode",
      p => p.contains("InMemoryTableScan") && count(p, "explode\\(array\\(struct\\(") == 1 &&
        windows(p) >= 1))

  test("no cartesian/nested-loop join in any registered query plan (sf0.001)") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val unusedAllow = scala.collection.mutable.Set.empty[String] ++= broadcastScalarAllowlist
    plans.foreach { case (name, _, _, plan) =>
      val hasCross = plan.contains("CartesianProduct")
      val hasBnlj = plan.contains("BroadcastNestedLoopJoin")
      if (hasCross)
        // a true cartesian is never acceptable, allowlisted or not —
        // broadcast-scalar joins plan as BroadcastNestedLoopJoin
        offenders += s"$name: CartesianProduct"
      else if (hasBnlj && !broadcastScalarAllowlist(name))
        offenders += s"$name: BroadcastNestedLoopJoin (not allowlisted)"
      if (hasBnlj) unusedAllow -= name
    }
    assert(offenders.isEmpty,
      s"cross-product shapes found:\n  ${offenders.mkString("\n  ")}")
    // keep the allowlist honest: every entry must still be needed
    assert(unusedAllow.isEmpty,
      s"allowlist entries no longer needed (plan improved? remove them): $unusedAllow")
  }

  test("no broadcast hint on a join side its join type cannot build (sf0.001)") {
    def hinted(h: Option[HintInfo]): Boolean = h.exists(_.strategy.contains(BROADCAST))
    def buildsLeft(t: JoinType): Boolean = t == Inner || t == Cross || t == RightOuter
    def buildsRight(t: JoinType): Boolean = t != RightOuter && t != FullOuter
    val offenders = plans.flatMap { case (name, _, optimized, _) =>
      optimized.collectWithSubqueries { case j: Join => j }.flatMap { j =>
        Seq(
          Option.when(hinted(j.hint.leftHint) && !buildsLeft(j.joinType))(
            s"$name: broadcast hint on the left side of a ${j.joinType} join"),
          Option.when(hinted(j.hint.rightHint) && !buildsRight(j.joinType))(
            s"$name: broadcast hint on the right side of a ${j.joinType} join")
        ).flatten
      }
    }
    assert(offenders.isEmpty,
      s"broadcast hints Spark cannot honour:\n  ${offenders.mkString("\n  ")}")
  }

  test("each audited headline plan keeps its scale property (sf0.001)") {
    // AQE's initial plan, with exchanges; prepared for the audited
    // queries only (WindowExec logs a WARN per global window it plans)
    val byName = plans.map { case (name, qe, _, _) => name -> qe }.toMap
    val executed = audited.map { case (name, _, _) =>
      name -> byName(name).executedPlan.toString }.toMap
    val failed = audited.filterNot { case (name, _, ok) => ok(executed(name)) }
    assert(failed.isEmpty, failed.map { case (name, property, _) =>
      s"$name: expected $property, got:\n${executed(name)}"
    }.mkString("\n\n"))
  }
}

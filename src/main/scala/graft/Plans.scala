package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Plan-audit dump: `explain("formatted")` for the headline queries, with
  * the scale property each plan is expected to exhibit, written to
  * PLANS.md. Run: `sbt "runMain graft.Plans /root/testdata/sf0.001"`.
  * The machine-checked versions of these properties live in
  * PlanChecksSpec / LayoutSpec; this artifact is for human review.
  */
object Plans {

  private val audited: Seq[(String, String)] = Seq(
    "q1_agg" ->
      "partial_* aggregates below one exchange (map-side combine); scan reads only 4 of 16 lineitem columns",
    "j1_left_broadcast" ->
      "BroadcastHashJoin — the control table broadcasts, the fact side never shuffles",
    "j7_bucketed_colocated" ->
      "bucketed scan on both sides: SortMergeJoin with no Exchange below it",
    "p3_partition_filter" ->
      "PushedFilters on the parquet scan; at a partitioned layout this becomes PartitionFilters",
    "a9_set_equality" ->
      "single shuffle on the tagged union — both set-difference directions in one pass",
    "sim_ivf_assign" ->
      "map-only: no Exchange anywhere; centroid argmax is a codegen'd expression over literals",
    "sim_topk_brute" ->
      "WindowGroupLimit below the window shuffle — each task ships at most k rows per query",
    "dd_minhash_pairs" ->
      "InMemoryTableScan reuse of the signature frame; band-bucket equi-join, never a cross product",
    "ta_winnow" ->
      "one Generate(explode) over a single codegen'd projection — fingerprinting at scan throughput",
    "ev_tumbling" ->
      "partial aggregation below exactly one hashpartitioning exchange on (window, key)",
    "o1_top_n" ->
      "TakeOrderedAndProject — bounded per-task heap, no global sort, only N rows reach the driver",
    "h3_shipping_priority" ->
      "filters pushed to all three scans; filtered customer dim broadcasts; TakeOrderedAndProject top-10",
    "h5_nation_revenue" ->
      "every dimension a BroadcastHashJoin; the only shuffle is orders⋈lineitem on orderkey",
    "a10_rollup" ->
      "Expand below ONE exchange — grouping sets partial-aggregate map-side like any groupBy",
    "p9_unpivot" ->
      "melt is a per-row Expand: zero Exchange in the whole plan",
    "dd_lev_pairs" ->
      "explicit round-robin-by-key repartition pins parallelism for the bounded-threshold verify stage against AQE's byte-size coalesce",
    "o4_range_frame" ->
      "one exchange on user_id; RangeFrame(-3600000, currentrow) sliding pointer — O(n) per user, no per-row re-scan",
    "h10_returned_items" ->
      "l_returnflag pushed to the fact scan (reads ~1/4 of rows); dims broadcast; TakeOrderedAndProject top-20",
    "h18_large_orders" ->
      "HAVING cuts the aggregate BEFORE both joins — only qualifying orderkeys enter; partial_sum below the exchange",
    "j8_bloom_prefilter" ->
      "native might_contain probe sits directly on the fact scan INSIDE whole-stage codegen, BEFORE the semi-join shuffle — the runtime-filter pattern made explicit",
    "j11_skew_salted" ->
      "hashpartitioning on (key, salt): the hot key fans out across `factor` reducers; salt is a pure row function so retries re-derive it",
    "sql_tpch_q21" ->
      "double-correlated EXISTS + NOT EXISTS: one left-semi and one left-anti join over lineitem — three passes total, no per-row re-execution",
    "sql_tpch_q2" ->
      "correlated min-equality (argmin) DECORRELATED: min(l_extendedprice) per part computed once, equi-joined back on l_partkey",
    "sql_tpch_q19" ->
      "disjunctive predicate does NOT defeat the join: p_partkey=l_partkey extracted as the hash key, the brand×quantity OR stays a residual filter",
    "sql_tpch_q20" ->
      "IN + nested correlated scalar: left-semi on suppkey above an aggregate-join on partkey — both levels decorrelated",
    "dd_para_dedup" ->
      "ONE corpus scan: first-occurrence via min-over-window on the chunk-hash shuffle (no self-join), then the reassembly exchange",
    "j9_range_join" ->
      "BinnedRangeJoin rule: NO BroadcastNestedLoopJoin — equi-join on __graft_bin with the exact range predicate re-applied",
    "h17_small_quantity" ->
      "correlated scalar subquery DECORRELATED: per-part average becomes an aggregate + equi-join on l_partkey, no per-row re-execution",
    "h22_wealthy_inactive" ->
      "NOT EXISTS planned as a broadcast left-ANTI join; the global-average scalar subquery runs once, not per row",
    "td_pack" ->
      "distributed prefix sum: ONE range exchange (ReusedExchange for the offsets branch), per-partition windows — no single-task global sort",
    "td_decontaminate" ->
      "native might_contain over the benchmark sketch filters training grams INSIDE the scan stage, BEFORE the shuffle; the exact LeftSemi above removes bloom false positives",
    "ev_funnel" ->
      "one exchange on user_id; staged conditional minima (two chained unbounded windows + one rollup, all on the same partitioning) — no per-stage self-joins, no per-user event arrays",
    "sql_tpch_q7" ->
      "both nation dims + supplier + customer broadcast; the only real shuffle is orders⋈lineitem on orderkey; the disjunctive nation-pair predicate stays a residual, money sums accumulate in exact DECIMAL",
    "sql_tpch_q16" ->
      "NOT IN planned as an anti join against the excluded-supplier list (no nested loop); count(DISTINCT) re-shuffles once on the full group key",
    "sql_tpch_q12" ->
      "returnflag IN-list + ship-date window pushed into the lineitem scan (PushedFilters); one orderkey shuffle join, the priority split is a single conditional aggregate — no second pass",
    "dd_embed_neardup_lsh" ->
      "banded LSH: explode to (label, band, bandValue) buckets, equi-join on the bucket key — buckets-per-band scales with corpus size (planes ladder), pinning bucket occupancy so verify work stays ≈ linear; exact cosine verify above, distinct after the cheap filter",
    "sim_ivfpq_topk" ->
      "IVF coarse cell prunes candidates map-side (zero-shuffle centroid assignment), compiled PQ ADC ranks 8-byte codes within the cell; broadcast bucket join, the only exchange is the per-query top-k window",
    "ev_left_interval" ->
      "left-outer range-bounded equi-join on user_id — one exchange per side; on the stream the same plan holds unmatched clicks in state until the watermark passes click_ts",
    "ta_source_overlap" ->
      "ONE winnow pass: codegen'd bit_or presence-mask aggregate on fp (map-side combined), tiny mask histogram, pair expansion by set-bit explode — no fp self-join, no distinct, no object aggregate",
    "td_redact" ->
      "map-only single Project: the compiled pii_redact kernel emits redacted text AND the email count in one call — zero exchanges, scan throughput",
    "dd_simhash_agg" ->
      "compiled md5long60 hash in the codegen'd Project BELOW the ObjectHashAggregate (a TypedImperativeAggregate evaluates its child interpreted — the hash must not live there); shuffle carries one 244-byte sketch per doc",
    "ta_heavy_hitters_exact" ->
      "two-pass exact heavy hitters: sketch pass (ObjectHashAggregate, bounded buffers) then the token stream re-scanned against the BROADCAST candidate list — both passes combine map-side; no token-scale shuffle beyond the sketch's own",
    "ev_json" ->
      "map-only Project: the compiled json_int_key byte scan replaces get_json_object's per-row Jackson parse — zero exchanges, the extraction rides the scan",
    "dd_substring" ->
      "gram hashing, never a suffix array: ONE corpus scan, the compiled in-place wordGramHashes kernel (no token array, no gram strings) feeding one Generate, dup grams marked by count-over-window on the gram-hash shuffle (no aggregate-plus-self-join, no second scan), per-doc island window bounded by document length — no corpus-position global sort",
    "sim_kmeans" ->
      "each Lloyd round: map-only assignment (centroid literals in a codegen'd array_max fold — no join, no shuffle) + one bounded aggregation (posexplode, groupBy(cid, dim) partial-aggregates map-side: the shuffle carries k×dim rows per map partition, never a row per vector)",
    "td_domain_mix" ->
      "ONE corpus aggregation (compiled token-count sum, map-side combined); the normalizing windows run over the already-aggregated k-domain frame — the single-partition window is k rows, not the corpus",
    "ta_kl_drift" ->
      "the token stream shuffles by token ONCE per aggregate (top-V via TakeOrdered, cell counts after a BROADCAST membership join); the only keyless join is the k-source × (V+1)-cell smoothing grid, bounded by KlTopV",
    "td_weighted_sample" ->
      "rates are ONE corpus aggregation collected to a catalog-sized control table and re-entered as a literal broadcast frame (the re-joined aggregate form re-ran the tokenization pass); the acceptance test runs map-side inside the second and final corpus scan",
    "ta_inverted_index" ->
      "two-level index build: (token, doc) pre-aggregate collapses repeats map-side BEFORE the first shuffle; the posting-list agg then shuffles one row per distinct pair; df HAVING cuts on the aggregated frame",
    "u7_scd2" ->
      "ONE exchange + sort on cust_key serves BOTH windows: the change filter between lag and lead preserves partitioning and order, so Catalyst plans Window→Filter→Window over a single sort, no second shuffle",
    "ta_bpe_pairs" ->
      "the corpus contributes ONE map-side-combined vocabulary aggregation; pair explosion and counting run over the VOCAB table (bounded by distinct words × word length, independent of corpus size) — the shape real BPE trainers use",
    "ta_bigram_lm" ->
      "the bigram stream materializes once (InMemoryTableScan reuse); the c2+c1 model table is a MATERIALIZED cache artifact (c1 = v-partitioned window over c2, not a join) whose TRUE size drives an UNHINTED stats-based broadcast — no forced broadcast of a vocab-sized frame anywhere, so past the threshold the scoring join degrades to shuffle instead of OOMing the driver",
    "ta_unigram_lp" ->
      "the unigram frequency table is a MATERIALIZED cache artifact joined UNHINTED: exact stats put the initial plan on BroadcastHashJoin below the threshold (the token stream never exchanges), and a web-scale vocab would honestly degrade to a shuffle join — the only hint left is the 1-row corpus total",
    "sim_inertia" ->
      "map-only until the k-row aggregate: centroid literals ride the same codegen'd argmax fold as sim_kmeans, and the inertia sum is INTEGER floor(d2*1e6) — order-independent, so map-side combine cannot drift the result",
    "ev_rate_limit" ->
      "one exchange on user_id; the token-bucket recurrence is a codegen'd higher-order aggregate over each user's (ts,id)-sorted events — all-integer state, no per-event shuffle, the ev_funnel shape",
    "td_chunk" ->
      "zero-shuffle map: chunk plans derive from the compiled token COUNT (never a token array), so the corpus scan emits (doc, start, end) rows at scan throughput; the only Generate is over integer chunk starts",
    "dd_lsh_stats" ->
      "InMemoryTableScan reuse of the shared signature table; one shuffle on (band, bucket) with map-side combine, then a B-row rollup — the index-health report never touches the pair join it budgets",
    "sim_recall_report" ->
      "both ranking sides reuse their cached vector frames; the comparison is a left join on (query, neighbor) + integer hit counts — the recall harness adds no new scan of the embedding table",
    "td_upsample" ->
      "rates broadcast onto the corpus scan; the copy explode multiplies rows map-side by ceil(f) BEFORE the only summary shuffle — replication cost rides the scan, never a shuffle",
    "ev_anomaly" ->
      "ONE exchange on user_id: moment sums ride a window over the same partitioning the flags evaluate in, and the per-user rollup reuses it — the naive two-pass join form would shuffle the event stream twice",
    "ev_retention" ->
      "ONE event scan: distinct (user, week) shuffle, cohort = min-over-window on the SAME distinct frame (a cohort aggregate joined back would rescan raw events), then the tiny (cohort, offset) rollup",
    "mm_dedup" ->
      "hash-partitioned groupBy on the 128-bit payload fingerprint: only (fp, id, size) shuffle — the binary payload itself never leaves the scan stage, the invariant that matters at media scale",
    "ta_doc_embed" ->
      "ZERO shuffle: the whole featurizer is one compiled map call per document (doc_vec_hash byte scan — seeded md5Long60 per token, ±1 into h mod dim) over the corpus scan; the former explode + 16-conditional-aggregate form moved the full token stream through a doc_id exchange for what is a per-row projection",
    "j12_asof_nearest" ->
      "two sorted-merge as-of passes (backward on t, forward on −t) + an equi-join on event_id — nearest-neighbor time alignment with NO range cross product; gaps are integer micros end to end",
    "o7_mom_change" ->
      "dims broadcast; one aggregate shuffle on (nation, month); the lag window runs over the tiny monthly frame — DECIMAL money so the delta can never flip on float reduction order",
    "dd_source_dup_rate" ->
      "ONE scan: corpus-wide dup-group sizes via count-over-window on the fingerprint shuffle (aggregate-join-back would rescan+rehash), then the per-source rollup",
    "a15_hll_union" ->
      "sketch algebra: per-source HLL sketches partial-aggregate map-side, the union is a k-row register-max merge — the pre-aggregated-rollup pattern that answers any source-subset distinct without raw data",
    "ev_transitions" ->
      "Markov transition matrix: ONE event-volume shuffle (the per-user lead window); everything after — row totals, the integer micro-probability division — runs over the |event_types|²-row frame, constant-sized at any corpus scale; `div` keeps the matrix bit-stable cross-engine",
    "a17_equidepth" ->
      "ANALYZE-style equi-depth histogram: global rank from the distributed PrefixSum (ONE range exchange + a #partitions-sized offsets collect + a second pass over the SAME shuffle files) — never Window.orderBy's move-everything-to-one-partition — then a 32-key bucket aggregate; tie-invariant output so the integer-cents histogram oracles exactly",
    "a16_topk_agg" ->
      "sort-free leaderboard: the k-slot heap aggregate rides the ONE hash-aggregate shuffle (map-side partial heaps bound the exchange to k slots per group per partition; reduce folds heaps; NO Sort node in the plan) and composes with count in the same pass — the window row_number form pays its own partitioning pass plus a per-partition sort; exact and merge-order independent, so fully oracled",
    "dd_semdedup" ->
      "SemDeDup composition: cluster assignment is the zero-shuffle centroid-literal argmax fold (InMemoryTableScan-reused across the family); candidates come from the banded-LSH equi-join WITHIN each cluster (planes ladder, never n²/k); the keep decision is one left join on vec_id — no pairwise stage outside the bucket join",
    "g_pagerank" ->
      "iterated sparse mat-vec: per round exactly ONE aggregation shuffle (contributions by dst) joined hash-to-hash against the cached symmetric edge table; integer ppb ranks make map-side combine byte-exact; no cross product, no driver-side graph state",
    "p10_zorder" ->
      "map-only projection (the compiled 10-op zinterleave16 kernel) + one bounded aggregation (≤ 4096 z-cells) — the layout-stats pass rides the scan; partial_min/max combine map-side",
    "ta_fluency_outliers" ->
      "per-source bottom-K via WindowGroupLimit: a K-row heap per task BEFORE the source exchange, so the shuffle carries at most K×tasks×sources rows — never a corpus sort; the scored frame reuses the shared cached bigram stream",
    "sim_knn_graph" ->
      "banded-LSH bucket equi-join generates candidates (planes ladder pins occupancy); the both-bands dedup aggregates (src, dst, score) triples — embeddings never re-shuffle — and the per-source top-k plans WindowGroupLimit",
    "g_jaccard_sim" ->
      "pilot-cohort explosion control: the query side is the bounded pilot, the candidate side the whole catalog — pair keys ≤ pilot×catalog, never catalog²; degrees stay TRUE (unpiloted), keys stay INT until the output prefix, rank ≤ k plans WindowGroupLimit",
    "g_khop" ->
      "frontier BFS: each round joins only the CURRENT (shrinking, checkpointed) frontier against the src-partitioned cached edge table — visited never re-expands; the anti-join keeps dist minimal; rounds are a fixed constant so lineage is O(1) per round",
    "ev_gapfill" ->
      "one exchange, zero joins: hourly aggregate, lead window, and gap generation share the single user_id repartition; each observed row EMITS its gap range via sequence/explode carrying its sum, so the forward fill is by construction — no grid join, no second window, no second scan",
    "ta_ngram_novelty" ->
      "the exploded distinct-gram stream is repartitioned ONCE by gram and persisted; first-seen min(doc_id) aggregates on that partitioning exchange-free and the join back is co-partitioned — only added shuffle is the per-document rollup; gram volume ≈ token volume, linear in corpus",
    "ev_cusum" ->
      "the running-reset CUSUM recurrence as its closed form — prefix sum minus prefix min, two frames over ONE (event_type) ordering, no recursion/UDAF; hourly agg and per-type mean ride the same single exchange; all-integer so partial aggregation is exact",
    "ev_concurrency" ->
      "sweep line at scale: boundary points (2/session) get their global ordered running sum from PrefixSum (range exchange + broadcast offsets), never a partitionless window; (time, ends-first) order is one encoded long key so half-open semantics and the hourly max are order-independent",
    "td_curriculum" ->
      "quantile binning without a global sort: one mergeable exact-percentile aggregate, 3 boundary doubles collected as a control row (codebook pattern), then a pure broadcast-literal map — the NTILE alternative is a single-task global sort",
    "dd_prefix_join" ->
      "EXACT all-pairs similarity join with NO quadratic stage: candidates equi-join on rare-first PREFIX grams only (prefix-df² volume, cut again by the length filter), verify is candidate-bounded; the shared gram partitioning serves df, ranking, and both join sides",
    "g_random_walk" ->
      "derandomized walk corpus: each step ONE frontier⋈edges join on the src-partitioned cache + an argmin aggregate (min(struct(h,dst)) ≡ the oracle's min-h-then-min-dst, so hash ties resolve identically); frontier stays |seeds| rows — walk cost scales with the cohort, not the graph",
    "o8_pareto" ->
      "2-D skyline as the sweep, not the O(n²) dominance join: one date-keyed aggregate collapses the fact table to per-date maxima, the running strictly-before max windows over that DATE-sized frame (the only partitionless window — thousands of rows by construction), and the surviving frontier broadcasts back onto the fact scan",
    "u8_mv_delta" ->
      "incremental view maintenance: agg(delta) + a full-outer merge sized by the VIEW — history is read once at founding, never per refresh; every stored state is mergeable algebra (sum/sum/max) so merged partials ≡ recompute bit-for-bit, and at cluster scale view+delta bucket on the group key for an exchange-free merge",
    "ta_cooccur" ->
      "A-Priori pruning keeps the pair stage off the quadratic cliff: pass 1 one combine-heavy aggregation over the shared token stream; pass 2 self-joins only FREQUENT-restricted baskets co-partitioned on doc_id, and the pair aggregate's key space is |frequent|² — map-side combine collapses the shuffle to O(partitions·|frequent|²) regardless of corpus size",
    "g_triangles" ->
      "mutual-top-T sparsification caps degree ≤ 8 STRUCTURALLY (dup-cluster cliques otherwise make wedge volume cubic in cluster size), then degree-ordered orientation bounds the wedge join by oriented out-degree — wedge volume ≤ N·C(T,2), linear in the corpus; the substrate pair graph is LSH-banded (never all-pairs); degree table broadcasts, wedge/closing joins are equi-joins on apex/closing keys",
    "ev_cum_uniques" ->
      "windowed COUNT(DISTINCT) via the first-seen reduction: one user_id shuffle collapses events to one row per user (map-side combined min), per-day new-user counts are date-range-sized, and the running sum windows over THAT tiny frame — event volume never reaches the window",
    "g_clustering" ->
      "reuses the FrameCache'd pair graph and the oriented triangle core; additions are one edge-linear degree aggregate and a LEFT join sized by the triangle table; the micro-ratio is a single integer division — no float can flip the score between engines",
    "g_sssp" ->
      "Pregel SSSP (no priority queue exists at cluster scale): each relaxation round is ONE join of the node-sized distance frame against the src-partitioned cached weighted edges + one min aggregate; integer min-plus is reduction-order-independent (the pagerank argument), lineage cut per round, rounds a fixed constant",
    "dd_typo_pairs" ->
      "SymSpell deletion-neighborhood blocking: the variant index carries Σ(len+1) keys (LINEAR in the name table, never the N² all-pairs join); candidates equi-join on the variant key, dedup BEFORE the DP, and verify with the banded threshold-1 Levenshtein (O(len) early-exit per candidate)",
    "td_boilerplate" ->
      "ONE chunk-hash shuffle carries the doc-frequency computation (COUNT DISTINCT over a window recast as dense_rank-then-max on the same para partitioning — an aggregate+join-back would rescan the corpus), then one doc_id shuffle reassembles with the drop filter INSIDE collect_list; text volume crosses the wire twice, never more",
    "ev_rolling_distinct" ->
      "rolling COUNT(DISTINCT) via interval-merge + sweep, never a 7x rescan: the cached (user, day) dedup and its ONE user_id exchange feed all three consumers (intervals, DAU, grid); both boundary deltas come from a single explode pass (a union of selects would recompute the per-user subtree); deltas collapse to a date-range-sized frame and the running sum windows over the day grid — the deliberate partitionless window over thousands of rows",
    "g_concomp" ->
      "the strong-edge threshold is applied INSIDE the one map-side-combined pair aggregation, so the edge list is sparse before anything graph-shaped runs; then the hybrid component machinery: ≤4M edges resolve in one driver union-find (one job end-to-end), bigger graphs take distributed min-label + pointer jumping (O(log diameter) rounds, per-round localCheckpoint) — integer node ids (2k / 2k+1) keep the shuffle key numeric")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val out = if (args.length > 1) args(1) else "PLANS.md"
    // graft's optimizer rules arrive with the session — without them
    // the j9 audit prints the un-rewritten nested-loop plan and
    // contradicts its own Expected line
    val spark = LocalSession(4)

    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit of the headline queries\n\n")
    sb.append(s"Generated by `graft.Plans` on `$sfDir`. For each query: the\n")
    sb.append("scale property the plan must exhibit, then the formatted plan.\n")
    sb.append("Machine-checked versions: PlanChecksSpec, LayoutSpec.\n")
    audited.foreach { case (name, property) =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      sb.append(s"\n## $name\n\n**Expected:** $property\n\n```\n$plan```\n")
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"wrote $out")
    spark.stop()
  }
}

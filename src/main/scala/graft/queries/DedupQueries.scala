package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.{Hashing, SketchExprs}

/** Deduplication operators over `documents` / `embeddings` — the dedup
  * layer of a training-data pipeline (extension per SURVEY §7): exact
  * (hash groupBy), MinHash+LSH (shingle → signature → band bucket join),
  * SimHash (bit-majority sketch + banded hamming pairs), character-n-gram
  * Jaccard, and embedding-cosine near-dup with a blocking key.
  *
  * Scale design: candidate generation is always *bucketed* (LSH band join
  * or byte-band join or blocking key) so the shuffle carries
  * (bucket, doc) pairs, never the O(n²) cross product; only the verify
  * step touches candidate pairs, whose count LSH keeps near-linear. All
  * hashes are the engine-portable md5-derived longs from
  * [[graft.functions.Hashing]] so DuckDB oracles reproduce them exactly.
  */
object DedupQueries {

  type Q = (SparkSession, String) => DataFrame

  /** MinHash parameters: K signatures in B bands of R rows. */
  val K = 12
  val B = 4
  val R = 3
  /** SimHash pair threshold (60-bit sketch, 4 bands x 15 bits). */
  val HammingMax = 3

  /** documents + `toks` (normalized tokens) + `shingles` (3-token). */
  private[queries] def shingled(s: SparkSession, dir: String): DataFrame =
    shingledFrame(Tables.documents(s, dir))

  /** Shingling over any (doc_id, text) frame — streaming-safe (pure
    * per-row projection), shared by the batch queries and the
    * incremental-ingest stream face.
    */
  private[graft] def shingledFrame(docs: DataFrame): DataFrame =
    docs
      // compiled tokenizer; ≡ split(lower(trim(text)), "\s+") for every
      // doc that reaches a multi-token shingle, and the short-doc arm
      // coincides too: concat_ws over [] and [""] both yield the ""
      // gram, which is also what the oracle's string_split_regex path
      // produces for blank text
      .withColumn("toks", graft.functions.TextExprs.wsSplit(lower(col("text"))))
      .withColumn("shingles",
        when(size(col("toks")) >= 3,
          expr("transform(sequence(0, size(toks) - 3), i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
          .otherwise(array(concat_ws(" ", col("toks")))))

  /** doc_id, shingles, sig_0..sig_{K-1}. The K seeded min-hashes come from
    * the compiled single-pass [[SketchExprs.minhashSigs]] kernel (identical
    * values to `array_min(transform(shingles, md5...))` per seed, K× fewer
    * array walks and no interpreted lambdas).
    */
  private[queries] def minhashSigs(s: SparkSession, dir: String): DataFrame =
    minhashSigsFrame(Tables.documents(s, dir))

  private[graft] def minhashSigsFrame(docs: DataFrame): DataFrame = {
    val withSig = shingledFrame(docs)
      .withColumn("sigs", SketchExprs.minhashSigs(col("shingles"), K))
    val sigCols = (0 until K).map(k => col("sigs").getItem(k).as(s"sig_$k"))
    withSig.select(col("doc_id") +: col("shingles") +: sigCols: _*)
  }

  /** (doc_id, shd, band, bh) band-bucket rows from a signature frame —
    * the LSH index's posting key. Streaming-safe (explode projection).
    */
  private[graft] def bandedFrame(sig: DataFrame): DataFrame = {
    val bandStructs = (0 until B).map { b =>
      val rows = (0 until R).map(r => col(s"sig_${b * R + r}"))
      struct(lit(b).as("band"), md5(concat_ws(",", rows: _*)).as("bh"))
    }
    sig.select(col("doc_id"), col("shd"),
        explode(array(bandStructs: _*)).as("bd"))
      .select(col("doc_id"), col("shd"),
        col("bd.band").as("band"), col("bd.bh").as("bh"))
  }

  /** dd_exact — exact dedup by content hash: one row per distinct
    * normalized text with the canonical keep id, member ids, group size.
    * At scale: a single hash-partitioned groupBy on a 60-bit key.
    */
  def ddExact: Q = (s, dir) => {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    Tables.documents(s, dir)
      .select(Hashing.md5Long(norm).as("fp_long"), col("doc_id"))
      .groupBy(col("fp_long"))
      .agg(
        min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_docs"),
        concat_ws("\t", transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string"))).as("member_ids"))
  }

  /** dd_source_dup_rate — per-source duplication report (which crawls /
    * datasets contribute the duplicate mass — the report that decides
    * where dedup budget goes before any pair join runs): for each
    * source, its doc count, how many of its docs have content that
    * appears ≥2 times CORPUS-WIDE (dup membership is global, so a
    * source copying another source's content is charged for it), and
    * its distinct-content count. One scan; corpus-wide group sizes via
    * count-over-window on the fingerprint shuffle (the dd_para_dedup
    * trick — an aggregate joined back would rescan and rehash), then
    * the per-source rollup.
    */
  def ddSourceDupRate: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    Tables.documents(s, dir)
      .select(col("source"), Hashing.md5Long(norm).as("fp"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("fp"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("n") >= 2, 1L).otherwise(0L)).cast("long").as("n_dup_docs"),
        countDistinct(col("fp")).as("n_distinct_contents"))
  }

  /** dd_minhash_sig — per-document MinHash signature (K portable seeded
    * hashes, min over 3-token shingles). Pins the shingling + hash family
    * bit-for-bit against the oracle. Reads the shared persisted index
    * table ([[cachedSigs]]) — the signature pass is paid once per corpus
    * across the whole dedup suite, exactly like the on-disk signature
    * table it models.
    */
  def ddMinhashSig: Q = (s, dir) =>
    cachedSigs(s, dir).drop("shd")

  /** dd_minhash_pairs — LSH candidates + exact verification: signatures
    * band-hashed (B bands × R rows); docs sharing any band bucket become
    * candidate pairs; each candidate verified with exact shingle-set
    * Jaccard reported as integer |∩| / |∪| components.
    */
  def ddMinhashPairs: Q = (s, dir) =>
    candidatePairsWithSets(s, dir)
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("n_union", size(col("sh_a")) + size(col("sh_b")) - col("n_inter"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"),
        (col("n_inter") * 2 >= col("n_union")).as("jacc_ge_half"))

  /** dd_lsh_stats — LSH index-health report: per band, the bucket
    * count, the total indexed docs, the hottest bucket, and the
    * candidate-pair budget Σ C(size, 2) the band would generate. This is
    * the report that tunes B×R (too-few candidates → recall loss;
    * a hot bucket → one skewed verify task) BEFORE running the pair
    * join — exactly how an index build decides its banding at scale.
    * One shuffle on (band, bucket); the per-band rollup is B rows.
    * All-integer outputs, no tolerance.
    */
  def ddLshStats: Q = (s, dir) => {
    bandedFrame(cachedSigs(s, dir))
      .groupBy(col("band"), col("bh")).agg(count(lit(1)).as("sz"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(col("sz")).cast("long").as("n_docs"),
        max(col("sz")).as("max_bucket"),
        (sum(col("sz") * (col("sz") - 1)) / 2).cast("long").as("n_cand_pairs"))
  }

  /** The persisted signature table of the LSH index (sig columns +
    * distinct shingle sets): shingling + K md5 min-hashes is the
    * expensive map work, so it materializes ONCE per corpus — the bucket
    * self-join, the verify joins, and the incremental-ingest split all
    * reuse it instead of re-deriving signatures per plan branch. At
    * cluster scale this is the checkpointed signature table an LSH index
    * maintains.
    */
  private def cachedSigs(s: SparkSession, dir: String): DataFrame =
    FrameCache.cached(s, s"dd_minhash_sig:$dir")(
      minhashSigs(s, dir)
        .withColumn("shd", array_distinct(col("shingles"))).drop("shingles"))

  /** LSH candidate pairs carrying both distinct-shingle sets — the shared
    * recall stage behind Jaccard (dd_minhash_pairs) and containment
    * (dd_containment) verification.
    */
  private def candidatePairsWithSets(s: SparkSession, dir: String): DataFrame = {
    val sig = cachedSigs(s, dir)
    val buckets = bandedFrame(sig).drop("shd")
    val pairs = buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sh = sig.select(col("doc_id"), col("shd").as("sh"))
    pairs
      .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_a", "sh" -> "sh_a")), Seq("doc_a"))
      .join(sh.withColumnsRenamed(Map("doc_id" -> "doc_b", "sh" -> "sh_b")), Seq("doc_b"))
  }

  /** dd_incremental — continuous-ingest dedup, the shape a corpus
    * pipeline runs every batch: ARRIVING documents (odd ids here) are
    * checked against the INDEXED corpus (even ids) through the MinHash
    * band table — arrivals never join each other, and the index is the
    * persisted signature/band table an LSH index maintains, so per-batch
    * cost is |batch| × bucket-hit-rate, independent of corpus size.
    * Verification is exact Jaccard ≥ 1/2 on the distinct candidate
    * pairs; every arrival reports its dup count, first duplicate match,
    * and a novelty flag (left join — silence is "novel", not absence).
    */
  def ddIncremental: Q = (s, dir) => {
    // split the SHARED persisted signature table instead of re-shingling
    // each half: the index side is exactly the table an LSH index keeps
    // on disk, and the one signature pass is amortized across the whole
    // dedup suite (same FrameCache entry as the pairs/containment path)
    val sig = cachedSigs(s, dir)
    incrementalDedupFromSigs(sig.filter(col("doc_id") % 2 === 0),
      sig.filter(col("doc_id") % 2 === 1))
  }

  /** The band/verify/report core over already-computed signature frames
    * (sig columns + `shd` distinct-shingle set, the [[cachedSigs]]
    * layout) — the per-batch work once the index table exists.
    */
  private[graft] def incrementalDedupFromSigs(idxSig: DataFrame,
                                              arrSig: DataFrame): DataFrame = {
    val idxBands = bandedFrame(idxSig)
      .select(col("doc_id").as("match_id"), col("band"), col("bh"))
    val arrBands = bandedFrame(arrSig)
      .select(col("doc_id"), col("band"), col("bh"))
    val cand = arrBands.join(idxBands, Seq("band", "bh"))
      .select(col("doc_id"), col("match_id")).distinct()
    val ver = cand
      .join(arrSig.select(col("doc_id"), col("shd").as("sa")), Seq("doc_id"))
      .join(idxSig.select(col("doc_id").as("match_id"), col("shd").as("sb")), Seq("match_id"))
      .withColumn("n_inter", size(array_intersect(col("sa"), col("sb"))))
      .filter(col("n_inter") * 2 >= size(col("sa")) + size(col("sb")) - col("n_inter"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dups"), min(col("match_id")).as("first_match"))
    arrSig.select(col("doc_id")).join(ver, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("first_match"),
        col("n_dups").isNull.as("is_novel"))
  }

  /** dd_containment — ASYMMETRIC overlap on the LSH candidates: containment
    * C(A,B) = |A∩B| / |A| catches a short doc quoted inside a long one,
    * which symmetric Jaccard dilutes below any threshold (the classic
    * boilerplate/quotation case Broder's containment sketch targets).
    * Integer components only; flags at 80% containment either direction.
    */
  def ddContainment: Q = (s, dir) =>
    candidatePairsWithSets(s, dir)
      .withColumn("n_inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .select(col("doc_a"), col("doc_b"),
        size(col("sh_a")).as("n_a"), size(col("sh_b")).as("n_b"), col("n_inter"),
        (col("n_inter") * 5 >= size(col("sh_a")) * 4).as("a_in_b"),
        (col("n_inter") * 5 >= size(col("sh_b")) * 4).as("b_in_a"))

  /** dd_simhash — 60-bit SimHash per document: bit j set iff the majority
    * of distinct-token hashes have bit j set. (60 bits = the full portable
    * md5-derived hash width; 32 bits saturates on a small vocabulary.)
    */
  def ddSimhash: Q = (s, dir) =>
    shingled(s, dir)
      .select(col("doc_id"),
        SketchExprs.simhash60(array_distinct(col("toks")), 99).as("simhash"))

  /** Corpus size above which [[ddSimhashPairs]] switches from 4×15-bit
    * bands to Manku–Jain–Sarma block-combination keys: random 15-bit
    * collisions grow as C(N,2)/2¹⁵ (measured 60× runtime for 10× docs
    * at N = 500k — the round-9 sf10 decade caught it), while the wide
    * keys' fixed 20-rows-per-doc overhead only wins once that quadratic
    * term dominates.
    */
  val SimhashWideKeysMinDocs = 100000L

  /** dd_simhash_pairs — near-dup pairs by SimHash-keyed bucketing, then
    * exact hamming filter; the shuffle key is (key index, key value),
    * never all-pairs. The bucketing adapts to corpus size (the same
    * N-adaptive-ladder rule as [[lshPlanesPerBand]]):
    *
    *  - N < [[SimhashWideKeysMinDocs]]: 4 bands × 15 bits (pigeonhole:
    *    hamming ≤ 3 over 4 bands guarantees ≥ 1 equal band). Cheapest
    *    explode, and random band collisions C(N,2)/2¹⁵ are still noise.
    *  - N ≥ threshold: the Manku–Jain–Sarma (WWW'07) block-combination
    *    scheme — 6 blocks of 10 bits, one 30-bit key per 3-of-6 block
    *    subset (C(6,3) = 20 keys/doc). Hamming ≤ 3 flips at most 3
    *    blocks, so ≥ 3 blocks are equal and THAT triple's key matches —
    *    the same exact-recall guarantee with 2¹⁵× fewer random
    *    collisions per key, which is what survives the next two decades
    *    of N.
    *
    * Both generators are supersets of the true hamming ≤ 3 pair set and
    * the final exact filter is unchanged, so the output (and the
    * quadratic-form oracle) is identical on either path.
    */
  def ddSimhashPairs: Q = (s, dir) => {
    // One simhash pass, reused by both sides of the banded self-join.
    val sh = FrameCache.cached(s, s"dd_simhash:$dir")(ddSimhash(s, dir))
    val nDocs = FrameCache.cachedValue(s, s"dd_n_docs:$dir")(
      Tables.documents(s, dir).count())
    simhashPairsOf(sh, wide = nDocs >= SimhashWideKeysMinDocs)
  }

  /** The bucketed pair join over any (doc_id, simhash) frame — split out
    * so the spec can prove wide ≡ narrow on one corpus; see
    * [[ddSimhashPairs]].
    */
  private[graft] def simhashPairsOf(sh: DataFrame, wide: Boolean): DataFrame = {
    val keys =
      if (!wide)
        (0 until 4).map { i =>
          struct(lit(i).as("band"),
            shiftright(col("simhash"), i * 15).bitwiseAND(lit(32767L)).as("bv"))
        }
      else
        (0 until 6).combinations(3).toSeq.zipWithIndex.map { case (t, idx) =>
          val key = t.zipWithIndex.map { case (blk, pos) =>
            shiftleft(
              shiftright(col("simhash"), blk * 10).bitwiseAND(lit(1023L)),
              20 - 10 * pos)
          }.reduce(_ bitwiseOR _)
          struct(lit(idx).as("band"), key.as("bv"))
        }
    val buckets = sh
      .select(col("doc_id"), col("simhash"), explode(array(keys: _*)).as("bd"))
      .select(col("doc_id"), col("simhash"), col("bd.band").as("band"), col("bd.bv").as("bv"))
    buckets.as("a").join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= HammingMax)
  }

  /** dd_simhash_agg — the same SimHash computed as a DISTRIBUTED
    * aggregate over exploded (doc_id, token) rows: bit counts combine
    * map-side ([[graft.functions.SimHashAgg]]), the shuffle carries one
    * 244-byte sketch per group — the formulation for corpora whose
    * documents don't fit in a row. Result == dd_simhash (same oracle).
    *
    * The token hash is PRE-PROJECTED with the compiled
    * [[SketchExprs.md5Long60]] kernel rather than passed as the
    * aggregate's child: a TypedImperativeAggregate evaluates its child
    * per input row through the expression INTERPRETER
    * (`update` → `child.eval`), so the composed md5∘conv∘substring form
    * there cost ~4.5 s at sf1 — hashing inside the codegen'd Project
    * below the aggregate cut it to ~1.4 s with bit-identical values.
    */
  def ddSimhashAgg: Q = (s, dir) =>
    shingled(s, dir)
      .select(col("doc_id"), explode(array_distinct(col("toks"))).as("tok"))
      .select(col("doc_id"), SketchExprs.md5Long60(col("tok"), 99).as("th"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAgg.simhashAgg(col("th")).as("simhash"))

  /** dd_cluster — near-dup CLUSTER resolution: connected components over
    * the verified MinHash candidate pairs (jaccard ≥ 0.5), every doc
    * labeled with its component's minimum doc_id. Pairwise near-dups
    * aren't actionable until they're grouped — this is the step that
    * turns an LSH pair list into "keep one per cluster".
    */
  def ddCluster: Q = (s, dir) => {
    val pairs = ddMinhashPairs(s, dir).filter(col("jacc_ge_half"))
      .select(col("doc_a"), col("doc_b"))
    val labels = connectedComponents(pairs, "doc_a", "doc_b")
    Tables.documents(s, dir).select(col("doc_id"))
      .join(labels, col("doc_id") === labels("id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("cluster"))
  }

  /** Connected components over an undirected edge list → (id, component)
    * with component = min member id; vertices with no edges are absent
    * (callers default them to their own id).
    *
    * Hybrid by edge count — the production shape for dedup graphs:
    *  - Verified near-dup edges are SPARSE by construction (LSH + verify
    *    exists to make them rare), so the edge list after verification
    *    usually fits the driver even when the corpus is 100 TB: one
    *    collect, a union-find, one small result frame. This path is one
    *    Spark job end-to-end.
    *  - Above `maxDriverEdges`, fall back to distributed min-label
    *    propagation (the Pregel shape): per round one shuffle join + one
    *    aggregate over ONLY the docs that appear in edges; rounds =
    *    component diameter. Correct at any scale, paid only when the
    *    graph is genuinely huge.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxDriverEdges: Long = 1L << 22): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // The edge list is the output of the whole LSH+verify chain — persist
    // it so the size probe and the path taken (collect / edge expansion)
    // don't each recompute that chain from the scan.
    val cached = pairs.persist()
    val edgeCount = cached.count()
    if (edgeCount <= maxDriverEdges) {
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      cached.select(col(aCol).cast("long"), col(bCol).cast("long"))
        .collect().foreach { row =>
          val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
          // Record BOTH roots before merging: a node that only ever
          // appears as the surviving root would otherwise never enter
          // `parent` and be dropped from the output — the distributed
          // path below emits every edge endpoint, and the two paths
          // must agree row-for-row.
          parent.getOrElseUpdate(ra, ra)
          parent.getOrElseUpdate(rb, rb)
          if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
        }
      cached.unpersist()
      val members = parent.keySet.toSeq
      members.map(m => (m, find(m))).toDF("id", "component")
    } else {
      val edges = cached.select(col(aCol).as("src"), col(bCol).as("dst"))
        .unionByName(cached.select(col(bCol).as("src"), col(aCol).as("dst")))
        // hash-partitioned on dst BEFORE caching (the tradeEdges trick):
        // every round's neighbor-label join then satisfies
        // ENSURE_REQUIREMENTS from the cache — only the node-sized label
        // frame moves per round, never the edge table, which at graph
        // scale is the difference between one small and two large
        // shuffles per O(log diameter) round
        .repartition(col("dst"))
        .persist()
      edges.count() // materialize, then release the upstream chain's cache
      cached.unpersist()
      var labels = edges.select(col("src").as("id")).distinct()
        .withColumn("component", col("id")).persist()
      var changed = 1L
      var rounds = 0
      // Each round: (a) min-label over edge neighbors, then (b) pointer
      // jumping — follow component -> that node's component (labels only
      // ever name nodes inside the same component, so the hop is safe).
      // (b) halves chain lengths, so convergence is O(log diameter), not
      // O(diameter): a 64-round budget covers any graph that fits in
      // longs, and hitting it is an invariant violation, not data size.
      while (changed > 0) {
        require(rounds < 64,
          s"connectedComponents failed to converge after $rounds rounds " +
            s"($changed labels still changing) — non-convergence must not " +
            "silently split clusters")
        val stepped = ccMinLabelRound(edges, labels)
        // localCheckpoint (eager), NOT persist: `stepped` appears twice in
        // this join, so the logical plan DOUBLES per round — caching keeps
        // the data but not the tree, and by round ~20 plan stringification
        // alone OOMs the driver. Truncating lineage each round keeps the
        // plan O(1) per round (production note: on a cluster, a reliable
        // `checkpoint` to the checkpoint dir every few rounds also guards
        // against executor loss; local-mode tests take the cheap path).
        val updated = stepped.as("a")
          .join(stepped.select(col("id").as("__jid"), col("component").as("__jcomp")),
            col("a.component") === col("__jid"), "left")
          .select(col("a.id").as("id"),
            least(col("a.component"), coalesce(col("__jcomp"), col("a.component")))
              .as("component"),
            col("__old"))
          .localCheckpoint()
        changed = updated.filter(col("component") < col("__old")).count()
        labels.unpersist()
        labels = updated.drop("__old")
        rounds += 1
      }
      edges.unpersist()
      labels // persisted: the caller's lazy plan reads the cache
    }
  }

  /** One min-label propagation round of the distributed component loop:
    * neighbor-min over the dst-partitioned cached edges, folded into the
    * label frame as (id, component, __old). Split out so PlanChecksSpec
    * can lock the round's physical shape — the edge cache must serve the
    * join from its partitioning (only labels shuffle per round).
    */
  private[queries] def ccMinLabelRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val nmin = edges.join(labels, edges("dst") === labels("id"))
      .groupBy(col("src")).agg(min(col("component")).as("ncomp"))
    labels.as("l")
      .join(nmin, col("l.id") === nmin("src"))
      .select(col("l.id").as("id"),
        least(col("l.component"), col("ncomp")).as("component"),
        col("l.component").as("__old"))
  }

  /** dd_jaccard_ngram — character-trigram Jaccard near-dup on a bounded
    * doc subset (id < 50): the exact-verification primitive, brute-force
    * here to pin semantics; at scale candidates come from the LSH path.
    */
  def ddJaccardNgram: Q = (s, dir) => {
    val grams = Tables.documents(s, dir)
      .filter(col("doc_id") < 50)
      .withColumn("norm", regexp_replace(lower(trim(col("text"))), "\\s+", " "))
      .withColumn("grams", expr(
        "array_distinct(transform(sequence(1, greatest(length(norm) - 2, 1)), i -> substring(norm, i, 3)))"))
      .select(col("doc_id"), col("grams"))
    grams.withColumnsRenamed(Map("doc_id" -> "doc_a", "grams" -> "g_a")).as("a")
      .join(grams.withColumnsRenamed(Map("doc_id" -> "doc_b", "grams" -> "g_b")).as("b"),
        col("doc_a") < col("doc_b"))
      .withColumn("n_inter", size(array_intersect(col("g_a"), col("g_b"))))
      .withColumn("n_union", size(col("g_a")) + size(col("g_b")) - col("n_inter"))
      .filter(col("n_inter") * 10 >= col("n_union") * 7) // jaccard >= 0.7
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
  }

  /** Jaccard threshold θ = [[PjNum]]/[[PjDen]] for [[ddPrefixJoin]]
    * (integer cross-multiplication on both engine sides).
    */
  val PjNum = 7L
  val PjDen = 10L

  /** dd_prefix_join — EXACT all-pairs Jaccard similarity self-join over
    * the WHOLE corpus via prefix filtering (the PPJoin family,
    * Chaudhuri/Xiao et al.): where [[ddJaccardNgram]] pins semantics by
    * brute force on a bounded cohort and the MinHash path is
    * approximate, this is the scale path to EXACT similarity-join
    * output — no recall loss, no pilot. Sets are the dedup family's
    * distinct 3-token shingles; θ = 0.7.
    *
    * The algorithm: order every doc's grams by a GLOBAL canonical order
    * (document frequency ascending, then gram — rarest first, so
    * prefixes are maximally selective); any pair with J ≥ θ MUST share
    * a gram within each doc's first |g| − ⌈θ·|g|⌉ + 1 grams, so the
    * candidate join is an equi-join on PREFIX grams only, further cut
    * by the length filter θ·|a| ≤ |b| ≤ |a|/θ; candidates then verify
    * exactly with a count of shared grams. All integer comparisons.
    *
    * Scale: prefix join volume is Σ_gram prefix-df(gram)² — bounded by
    * the rare-first ordering (a gram that appears in many docs is
    * almost never in a prefix); the verify stage is candidate-bounded,
    * never all-pairs. The gram stream, its df table, and the ranked
    * prefixes all ride the shared FrameCache'd gram partitioning; the
    * oracle is the independent brute-force quadratic (list_intersect
    * over all pairs) — which is also why DuckDB pays n² on it at scale
    * while this plan stays near-linear.
    */
  def ddPrefixJoin: Q = (s, dir) => {
    val grams = TextQueries.sharedGramStream(s, dir)
    // Pinned static width-matched plan (r15; see Tuned): the candidate
    // pipeline is ~10 small stages over the byte-width gram cache —
    // compiled at the cache's width with AQE's per-stage
    // materialization barriers off, it runs as ONE job of tiny stages.
    // Measured 2.0 → 0.73 s at sf0.1/32c, identical rows
    // (OPTIMIZATION_r15.md, "Shared gram cache width + pinned
    // dd_prefix_join").
    Tuned.pinned(s, TextQueries.gramWidth(s, dir))(prefixJoinOf(grams))
  }

  /** The prefix-filtered exact similarity join over any distinct
    * (doc_id, gram) stream — split out so the spec can drive
    * constructed corpora; see [[ddPrefixJoin]].
    */
  /** Stage 1 of the candidate pipeline: each doc's grams ranked in the
    * GLOBAL canonical order (document frequency asc, then gram — rarest
    * first) and cut to the required prefix length |g| − ⌈θ·|g|⌉ + 1.
    * Split out (with [[plainCandidates]] / [[positionFiltered]]) so the
    * ScaleChecks stage accounting measures the PRODUCTION pipeline —
    * an inlined copy would silently drift from the plan it audits.
    */
  private[graft] def rankedPrefix(grams: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val freq = grams.groupBy(col("gram")).agg(count(lit(1)).as("df"))
    val wd = Window.partitionBy(col("doc_id"))
    val wr = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("gram"))
    grams.join(freq, Seq("gram"))
      .withColumn("sz", count(lit(1)).over(wd))
      .withColumn("rnk", row_number().over(wr))
      .filter(col("rnk") <= col("sz") - expr(s"($PjNum * sz + $PjDen - 1) div $PjDen") + 1)
  }

  /** Stage 2: the plain prefix-filtered candidate pairs — an equi-join
    * on prefix grams cut by the length filter θ·|a| ≤ |b| ≤ |a|/θ,
    * grouped per pair with the matched-prefix statistics the position
    * filter needs (cnt, last matched positions mi/mj).
    */
  private[graft] def plainCandidates(prefix: DataFrame): DataFrame =
    prefix.select(col("doc_id").as("doc_a"), col("gram"),
        col("sz").as("sa"), col("rnk").as("ra"))
      .join(prefix.select(col("doc_id").as("doc_b"), col("gram"),
        col("sz").as("sb"), col("rnk").as("rb")), Seq("gram"))
      .filter(col("doc_a") < col("doc_b") &&
        lit(PjNum) * col("sa") <= lit(PjDen) * col("sb") &&
        lit(PjNum) * col("sb") <= lit(PjDen) * col("sa"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(max(col("sa")).as("sa"), max(col("sb")).as("sb"),
        count(lit(1)).as("cnt"), max(col("ra")).as("mi"), max(col("rb")).as("mj"))

  /** Stage 3: the PPJoin POSITION filter (Xiao et al. 2008): grams are
    * globally ordered (df asc, gram), so two docs' common grams appear
    * in the SAME relative order in both — for a pair the last matched
    * prefix positions (mi, mj) bound the total overlap by
    * cnt + min(sa − mi, sb − mj) (every uncounted common gram sits
    * beyond BOTH), and a pair that cannot reach the required overlap
    * O ≥ ⌈θ/(1+θ)·(sa+sb)⌉ dies before verification. This is what keeps
    * candidates output-bounded when the corpus duplication structure
    * defeats the plain prefix filter: measured at sf10 (500k docs),
    * 22.3M prefix-only candidates → 7.0M, with pairs sharing only
    * deep-prefix rare-ish grams (true J ≈ 0.1) pruned.
    */
  private[graft] def positionFiltered(matches: DataFrame): DataFrame =
    matches.filter( // (PjNum+PjDen)·bound ≥ PjNum·(sa+sb) ⟺ bound ≥ O_min
      (lit(PjNum + PjDen) * (col("cnt") +
        least(col("sa") - col("mi"), col("sb") - col("mj")))) >=
        lit(PjNum) * (col("sa") + col("sb")))

  private[graft] def prefixJoinOf(grams: DataFrame): DataFrame = {
    val cand = positionFiltered(plainCandidates(rankedPrefix(grams)))
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
    // Two-stage verify. Stage 1 joins each candidate to per-doc SORTED
    // 60-bit gram-hash arrays (one doc-sized frame, built once) and
    // counts the multiset intersection in a compiled two-pointer merge —
    // hash equality is implied by string equality, so n_inter_h ≥ the
    // true n_inter and the hash-passing set is a SUPERSET of the true
    // result. Stage 2 recomputes n_inter exactly (string grams) for the
    // hash passers only — output-bounded, so the expensive gram-stream
    // re-join never sees the candidate volume. The old single-stage form
    // joined every candidate back to the full gram stream: 3.2G verify
    // rows at sf10 (the 546 s plan); hash arrays move candidate-bounded
    // bytes instead and exactness is untouched.
    val hsets = grams
      .select(col("doc_id"), graft.functions.Hashing.md5Long(col("gram")).as("gh"))
      .groupBy(col("doc_id")).agg(sort_array(collect_list(col("gh"))).as("hs"))
    val nInterH = graft.functions.VecExprs.sortedIntersectCount(col("ha"), col("hb"))
    val hashPass = cand
      .join(hsets.select(col("doc_id").as("doc_a"), col("hs").as("ha")), Seq("doc_a"))
      .join(hsets.select(col("doc_id").as("doc_b"), col("hs").as("hb")), Seq("doc_b"))
      .withColumn("n_inter_h", nInterH.cast("long"))
      .filter(lit(PjDen) * col("n_inter_h") >=
        lit(PjNum) * (col("sa") + col("sb") - col("n_inter_h")))
      .select(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
    hashPass
      .join(grams.select(col("doc_id").as("doc_a"), col("gram")), Seq("doc_a"))
      .join(grams.select(col("doc_id").as("doc_b"), col("gram")), Seq("doc_b", "gram"))
      .groupBy(col("doc_a"), col("doc_b"), col("sa"), col("sb"))
      .agg(count(lit(1)).as("n_inter"))
      .withColumn("n_union", col("sa") + col("sb") - col("n_inter"))
      .filter(lit(PjDen) * col("n_inter") >= lit(PjNum) * col("n_union"))
      .select(col("doc_a"), col("doc_b"), col("n_inter"), col("n_union"))
  }

  /** dd_lev_pairs — edit-distance verification of the SimHash candidate
    * pairs: sketches (simhash/minhash) RECALL candidates, an exact string
    * metric confirms them — this is that confirmation stage as its own
    * operator. Levenshtein is O(len²), so it runs on a bounded
    * ASCII-normalized 120-char prefix (byte==char in both engines) and
    * ONLY on the sparse candidate list — never all pairs. The candidate
    * frame joins the doc prefixes twice on doc_id; at scale both joins
    * shuffle on the id key (or broadcast the pair list when it's small).
    */
  def ddLevPairs: Q = (s, dir) => {
    val ascii = regexp_replace(
      regexp_replace(lower(trim(col("text"))), "\\s+", " "), "[^ -~]", "")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), substring(ascii, 1, 120).as("prefix"))
    ddSimhashPairs(s, dir)
      // Pin an explicit partition COUNT before the O(len²) metric: the
      // candidate list is a few MB, so AQE coalesces any advisory shuffle
      // (including repartition-by-column) down to ~1 partition — which
      // serializes the expensive per-row compute onto one core (measured
      // 20s → <1s at sf0.1). Byte-size-based planning is the wrong signal
      // when cost is per-ROW compute, not per-byte IO; same rule at
      // 100 TB, where the post-LSH candidate list is always small
      // relative to the corpus but the verify metric is the hot loop.
      .repartition(s.conf.get("spark.sql.shuffle.partitions").toInt, col("doc_a"))
      .join(docs.withColumnsRenamed(Map("doc_id" -> "doc_a", "prefix" -> "pa")), "doc_a")
      .join(docs.withColumnsRenamed(Map("doc_id" -> "doc_b", "prefix" -> "pb")), "doc_b")
      // BOUNDED edit distance: the operator's question is "within 20% of
      // the 120-char prefix?", so distances beyond 24 are reported as -1
      // and never computed — Spark's threshold form runs the banded
      // O(len·k) DP with early exit instead of the full O(len²) matrix
      // (measured ~2× on this verify stage; the win grows with how
      // non-dup the candidate list is). Verification cost should scale
      // with the threshold, not the document length.
      .withColumn("lev", levenshtein(col("pa"), col("pb"), 24))
      .select(col("doc_a"), col("doc_b"), col("hamming"), col("lev"),
        (col("lev") =!= lit(-1)).as("is_dup")) // lev ≤ 24 of 120 chars
  }

  /** dd_typo_pairs — single-edit identifier pairs via SymSpell
    * deletion-neighborhood blocking: every customer-name pair at
    * Levenshtein distance EXACTLY 1 (the record-linkage / key-typo
    * question — "which identifiers differ by one keystroke"). A pair at
    * distance 1 must share a blocking key when each string is indexed
    * under itself plus all its delete-one variants: a substitution pair
    * shares the variant that deletes the differing position from both,
    * an insert/delete pair puts the shorter string itself in the
    * longer's deletion set. Transposition-style false candidates are
    * killed by the verify.
    *
    * Scale (the SymSpell argument): the variant index carries
    * Σ(len+1) keys — LINEAR in the name table, vs the all-pairs join's
    * N² — and the equi-join on the variant key touches only names
    * whose neighborhoods actually collide. Verification runs the
    * banded threshold-1 Levenshtein (O(len) per candidate, early
    * exit), on DISTINCT candidates only — the ≤3 shared variants per
    * true pair are deduped before the DP, not after.
    */
  def ddTypoPairs: Q = (s, dir) =>
    typoPairs(Tables.customer(s, dir).select(col("c_name").as("name")))

  /** The deletion-neighborhood core over any single-column `name` frame
    * — see [[ddTypoPairs]]; the spec drives it on hand-built edit cases
    * and against a brute-force driver-side scan.
    *
    * Optimization r14 (same output bit-for-bit, exceptAll-locked in the
    * spec against the previous HOF/broadcast form):
    *  - variant generation is a codegen'd posexplode-style projection
    *    (explode over integer positions + substring concat) instead of
    *    an interpreted `transform` lambda building a per-row array;
    *    per-name duplicate variants (deleting any char of an equal-char
    *    RUN yields the same string — delete(s,i)==delete(s,j), i<j, iff
    *    s[i..j] is one repeated char) are dropped by keeping only each
    *    run's last position, which is exactly `array_distinct`'s effect;
    *  - the join key is `xxhash64(variant)` — 8 bytes through the
    *    exchange instead of a ~len-byte string (guide §2.3 narrower
    *    keys); a hash collision only ever ADDS a candidate pair, and the
    *    threshold-1 Levenshtein verify kills it, so the output set is
    *    unchanged (candidates are a superset either way — same argument
    *    as every LSH family in this module);
    *  - the self-join carries a `shuffle_hash` hint: Spark otherwise
    *    auto-BROADCASTS the ~Σlen-row variant frame (estimated under
    *    10 MB), which builds a driver-side HashedRelation of the entire
    *    variant index, recomputes the variant subtree on the probe side
    *    (no exchange to reuse), and measured 7.2 s vs 2.0 s for the
    *    shuffled form at sf0.1 — and at 100 TB a corpus-sized variant
    *    index must never broadcast at all (it scales with the name
    *    table); hash-partitioned, both sides reuse ONE exchange;
    *  - the verify runs BEFORE the pair-distinct, so the distinct's
    *    exchange carries only true distance-1 pairs, not every
    *    colliding candidate (aggregate-after-filter, guide §2.3).
    */
  private[queries] def typoPairs(names: DataFrame): DataFrame = {
    // Dedupe BEFORE indexing: distance-1 pairs are a property of the
    // distinct name SET, and any duplicated identifier (routine in real
    // linkage tables — and in the scaled corpus, where replicas reuse
    // names) would otherwise multiply every colliding candidate by
    // dup_a × dup_b before the pair-distinct collapses it again
    // (measured: 4.7 s → 368 s at 10× data with 10 copies per name).
    // One extra name-keyed exchange, after which all downstream volume
    // is driven by distinct names only.
    val vars = names.distinct()
      .select(col("name"), explode(sequence(lit(0), length(col("name")))).as("i"))
      .filter(col("i") === 0 ||
        expr("substring(name, i, 1) != substring(name, i + 1, 1)") ||
        col("i") === length(col("name")))
      .select(col("name"),
        xxhash64(when(col("i") === 0, col("name")).otherwise(
          concat(substring(col("name"), lit(1), col("i") - 1),
            expr("substring(name, i + 1, length(name))")))).as("v"))
      .hint("shuffle_hash")
    vars.as("a").join(vars.as("b"),
        col("a.v") === col("b.v") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .filter(levenshtein(col("name_a"), col("name_b"), 1) === 1)
      .distinct()
  }

  /** Fixed-block embedding-cosine near-dup — SPEC FIXTURE ONLY (not in
    * [[queries]]): blocks the pair join on `label`, a FIXED-cardinality
    * key, so its work grows quadratically with rows-per-label (measured
    * 94× wall at 10× data, BENCH_NOTES r6). It is kept as the EXACT
    * recall baseline the banded-LSH path is verified against in
    * DedupQueriesSpec — within a block the quadratic join has perfect
    * recall, which is precisely what makes it useful as a test oracle
    * and disqualifying as a committed query. The canonical near-dup
    * entry is [[ddEmbedNeardupLsh]]. Pairs with cos ≥ 0.35, compared as
    * dot² ≥ t²·‖a‖²·‖b‖² to avoid sqrt — ids only in the output, so
    * float-rounding differences can't flip rows except exactly at the
    * threshold.
    */
  def ddEmbedNeardup: Q = (s, dir) => {
    val t2 = 0.35 * 0.35
    val e = Tables.embeddings(s, dir)
      .withColumn("nrm", graft.functions.VecExprs.dot(col("embedding"), col("embedding")))
    val a = e.select(col("vec_id").as("vec_a"), col("label"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = e.select(col("vec_id").as("vec_b"), col("label"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("label"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("dot", graft.functions.VecExprs.dot(col("ea"), col("eb")))
      .filter(col("dot") > 0 && col("dot") * col("dot") >= lit(t2) * col("na") * col("nb"))
      .select(col("vec_a"), col("vec_b"), col("label"))
  }

  /** dd_embed_neardup_lsh — the SCALED-BLOCKING twin of
    * [[ddEmbedNeardup]]: same cos ≥ 0.35 predicate, but candidates are
    * generated by banded-OR hyperplane LSH (2 bands × p planes from the
    * [[SimQueries.lshSigBits]] plane pool) within each label, then
    * verified exactly. A pair is a candidate if ANY band agrees.
    *
    * p is the scale knob the round-6 docstring named, now actually
    * turned: log₂(planes per band) must grow with log N to keep
    * pairs-per-bucket constant, so p climbs an integer threshold ladder
    * on the corpus size — p = 3 + #{t ∈ [[LshLadderThresholds]] :
    * N > t}, i.e. 3 planes (8 buckets/band) through N = 1000, one more
    * plane per doubling, capped at 14 from N > 1024000. Candidate
    * dot products stay ≈ bands·N·occupancy/2 with occupancy pinned,
    * instead of N²/16 with fixed buckets (which measured 34× wall at
    * 10× rows before the ladder). The ladder is integer-only and
    * mirrored verbatim in the DuckDB oracle, and the plane pool is
    * prefix-stable, so at the sf0.01 correctness gate (N = 500 → p = 3)
    * results are bit-identical to the fixed-3-plane form. At 100 TB the
    * cap moves up with [[SimQueries.MaxPlanes]]; nothing else changes.
    *
    * The recall trade is explicit: at this LOW threshold (cos 0.35,
    * planes agree with p≈0.61) two 3-plane bands recover ~40% of true
    * pairs (9 of 26 at sf0.01) — low-similarity LSH prunes OR recalls,
    * never both; production indexes run near-dup thresholds (cos ≥ 0.8,
    * p≈0.8/plane) where the same banding holds ~75-95% recall, and
    * each extra plane trades ~p_plane× recall per band for 2× fewer
    * verifies — the standard LSH tuning dial, here tied to N.
    * Verification runs on the candidate multiset (a pair agreeing in
    * both bands is verified twice, bounded ≤ bands×) and the output is
    * de-duplicated after the cheap filter, so no embedding-array
    * distinct ever shuffles.
    */
  def ddEmbedNeardupLsh: Q = (s, dir) =>
    embedNeardupLshPairs(Tables.embeddings(s, dir), 0.35)

  /** Integer thresholds of the planes-per-band ladder — one plane per
    * corpus-size doubling past 1000 vectors. SINGLE SOURCE OF TRUTH:
    * both [[lshPlanesPerBand]] and the DuckDB `prm` mirror
    * ([[SimQueries.duckPrmLadder]]) are generated from this list, so
    * the two engines cannot disagree at a boundary.
    *
    * Round 10 extended the ladder past its former 16k cap: the round-9
    * accounting measured sim_knn_graph's bucket occupancy at 78 (20k
    * vectors, p=8) vs 781 (200k vectors, still p=8) — candidate pairs
    * 1.84M → 185.5M, i.e. quadratic growth exactly where the ladder
    * stopped climbing. With the extension, occupancy is pinned through
    * N ≈ 2M and the cap moves up with [[SimQueries.MaxPlanes]].
    */
  private[queries] val LshLadderThresholds: Seq[Long] =
    Seq(1000L, 2000L, 4000L, 8000L, 16000L, 32000L, 64000L,
      128000L, 256000L, 512000L, 1024000L)

  /** The planes-per-band ladder: floor 3, +1 per doubling past 1000,
    * cap 3 + #thresholds = 14 (2 bands × 14 = the
    * [[SimQueries.MaxPlanes]] pool). Integer-only so the DuckDB oracle
    * can mirror it without a float boundary.
    */
  private[queries] def lshPlanesPerBand(n: Long): Int =
    3 + LshLadderThresholds.count(n > _)

  /** Banded-LSH candidate generation + exact cosine verify over any
    * frame with (vec_id, label, embedding) — the reusable core of
    * [[ddEmbedNeardupLsh]], parameterized on the cosine threshold so
    * DedupQueriesSpec can lock the production-threshold (cos ≥ 0.8)
    * recall claim on seeded near-dup pairs.
    */
  private[queries] def embedNeardupLshPairs(emb: DataFrame, threshold: Double): DataFrame = {
    val t2 = threshold * threshold
    // index-sizing parameter, computed once per (session, input) like
    // every other index artifact — not one count job per invocation
    val p = lshPlanesPerBand(FrameCache.cachedValue(emb.sparkSession,
      "embedLshN:" + emb.queryExecution.analyzed.semanticHash())(emb.count()))
    val banded = SimQueries.explodeBands(emb
      .withColumn("nrm", graft.functions.VecExprs.dot(col("embedding"), col("embedding")))
      .withColumn("sig", SimQueries.lshSigBits(2 * p)), p)
    val a = banded.select(col("vec_id").as("vec_a"), col("label"), col("band"),
      col("bv"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = banded.select(col("vec_id").as("vec_b"), col("label"), col("band"),
      col("bv"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("label", "band", "bv"))
      .filter(col("vec_a") < col("vec_b"))
      .withColumn("dot", graft.functions.VecExprs.dot(col("ea"), col("eb")))
      .filter(col("dot") > 0 && col("dot") * col("dot") >= lit(t2) * col("na") * col("nb"))
      .select(col("vec_a"), col("vec_b"), col("label"))
      .distinct()
  }

  /** dd_para_dedup — paragraph-level exact dedup with document
    * reassembly (the C4/RefinedWeb corpus op: a boilerplate paragraph
    * repeated across pages is kept only where it first appears). The
    * synthetic corpus has no newlines, so a "paragraph" is a fixed
    * 10-word chunk — the Spark plumbing (chunk → global first-occurrence
    * resolution → in-order reassembly) is the real operator.
    *
    * ONE scan, two shuffles, all on bounded keys: the global
    * first-occurrence is `min(doc_id) OVER (PARTITION BY para)` — a
    * window on the chunk-hash shuffle, replacing the
    * aggregate-plus-self-join form that read the corpus twice — then
    * doc_id (reassembly). Never a cross product; the op scales as one
    * extra pass over the text. Chunking itself is a zero-shuffle
    * transform+posexplode; reassembly sorts each doc's kept chunks by
    * original position inside the aggregate (array_sort of (pos, text)
    * structs), not with a global sort.
    */
  def ddParaDedup: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val chunks = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, cast(ceil(size(ws) / 10.0) as int) - 1),
          |          g -> array_join(slice(ws, g * 10 + 1, 10), ' '))""".stripMargin)))
      .withColumnsRenamed(Map("pos" -> "cid", "col" -> "para"))
    val kept = chunks
      .withColumn("first_doc", min(col("doc_id")).over(Window.partitionBy(col("para"))))
      .filter(col("doc_id") === col("first_doc"))
      .groupBy(col("doc_id"), col("para"))
      .agg(min(col("cid")).as("cid"))
    kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_keep"),
        array_join(expr("transform(array_sort(collect_list(struct(cid, para))), x -> x.para)"), " ")
          .as("text"))
  }

  /** Width (in words) of the exact-substring gram, and the minimum
    * corpus frequency that makes a gram "duplicated".
    */
  val SubGram = 5

  /** dd_substring — exact repeated-substring span detection (the
    * suffix-array dedup of Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", recast for a distributed engine as
    * rolling word-gram frequency + per-document interval merge): every
    * maximal span whose [[SubGram]]-word grams ALL occur ≥2 times in the
    * corpus is reported as (doc, span_start, span_end, n_dup_grams) in
    * word offsets — the spans a substring-level dedup pass would cut.
    *
    * Scale design (the reason this is not a suffix array): a distributed
    * suffix array needs a global sort of every corpus position; gram
    * hashing needs only (1) a zero-shuffle posexplode of hashed grams,
    * (2) ONE shuffle on the 60-bit gram hash where `count over
    * (partition by gh)` marks duplicated grams — the dd_para_dedup
    * trick: an aggregate-plus-self-join would re-scan and re-hash the
    * whole corpus for the frequency table — and (3) a per-document
    * window to merge gram hits into maximal spans, partitioned by
    * doc_id and therefore bounded by document length, never corpus
    * size. At 100 TB the dup-gram marker is the natural Bloom-filter
    * candidate (the td_decontaminate pattern) but stays exact here
    * because the output is itself exact.
    */
  def ddSubstring: Q = (s, dir) => substringSpans(Tables.documents(s, dir))

  /** The span detector over any (doc_id, text) frame — see
    * [[ddSubstring]] for semantics and the scale argument.
    */
  private[graft] def substringSpans(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The gram hash is INTERNAL (output exposes only positions/spans),
    // so the duplicate-gram detector runs on the compiled in-place
    // wordGramHashes kernel (xxhash64 over byte ranges of the
    // ws-normalized text — no token array, no gram strings, no md5):
    // the split+transform+md5 form spent over half this query's sf1
    // wall materializing ~25M token objects. Both engines still agree
    // on WHICH grams repeat — equal gram strings hash equal, and a
    // 64-bit collision across ~n grams is ~n²/2⁶⁴ (immaterial); the
    // oracle keeps its independent md5 gram key.
    val grams = docs
      .select(col("doc_id"),
        regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm"))
      .select(col("doc_id"),
        posexplode(graft.functions.TextExprs.wordGramHashes(col("norm"), SubGram)))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("col").as("gh"))
    val hits = grams
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("gh"))))
      .filter(col("n") >= 2)
      .select(col("doc_id"), col("pos"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    hits
      .withColumn("prev", lag(col("pos"), 1).over(byDoc))
      .withColumn("brk", when(col("prev").isNull || col("pos") - col("prev") > SubGram, 1).otherwise(0))
      .withColumn("island", sum(col("brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + SubGram).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"), col("n_dup_grams"))
  }

  /** Semantic-dedup cosine threshold (the production near-dup band —
    * the regime where the 2-band LSH holds high recall; see
    * [[ddEmbedNeardupLsh]]'s recall discussion).
    */
  val SemThreshold = 0.8

  /** dd_semdedup — SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication"): embedding-
    * space semantic dedup as cluster-then-dedup-within-cluster. Every
    * vector is assigned to its nearest trained Lloyd centroid (the SAME
    * final-round quantizer sim_kmeans trains — [[SimQueries.kmCents]],
    * shared through FrameCache so the 3-round loop never re-runs), then
    * within each cluster near-duplicates (cos ≥ [[SemThreshold]]) are
    * found by the proven banded-LSH candidate generator and verified
    * exactly; the keep rule is deterministic greedy-by-id: a vector is
    * dropped iff some LOWER-id vector in its cluster is a verified
    * semantic duplicate. Output: one row per vector —
    * (vec_id, cluster, keep 0/1) — the decision table a corpus pruning
    * pass joins against.
    *
    * Scale: assignment is the zero-shuffle codegen'd argmax fold
    * (centroid literals, no join); candidate generation inherits the
    * N-adaptive planes ladder from [[embedNeardupLshPairs]] (pairs stay
    * ≈ linear in N, never the within-cluster n²/k — with k fixed a
    * growing corpus fattens every cell, so the LADDER, not the cluster
    * count, is what bounds pair work); the decision is one broadcast-able
    * anti-join shape on vec_id. At 100 TB both knobs grow: cluster count
    * with corpus size (the paper's k ≈ √N regime) and planes per band
    * one per doubling — the cells-within-clusters keep both the verify
    * set and each shuffle bucket bounded.
    *
    * The oracle interpolates [[SimQueries.duckKmChain]] (bit-identical
    * Lloyd assignment) and mirrors the sig/band/verify chain with the
    * same integer ladder, so the two engines agree exactly.
    */
  def ddSemdedup: Q = (s, dir) => {
    val cents = SimQueries.kmCents(s, dir)
    val assigned = graft.queries.FrameCache.cached(s, s"dd_semdedup_assign:$dir")(
      Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"),
          SimQueries.kmNearest(cents).as("cluster")))
    val pairs = embedNeardupLshPairs(
      assigned.select(col("vec_id"), col("cluster").as("label"), col("embedding")),
      SemThreshold)
    val dropped = pairs.select(col("vec_b").as("vec_id")).distinct()
      .withColumn("dup", lit(1L))
    assigned.select(col("vec_id"), col("cluster"))
      .join(dropped, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        when(col("dup").isNull, lit(1L)).otherwise(lit(0L)).as("keep"))
  }

  val queries: Map[String, Q] = Map(
    "dd_semdedup" -> ddSemdedup,
    "dd_para_dedup" -> ddParaDedup,
    "dd_substring" -> ddSubstring,
    "dd_exact" -> ddExact,
    "dd_minhash_sig" -> ddMinhashSig,
    "dd_minhash_pairs" -> ddMinhashPairs,
    "dd_lsh_stats" -> ddLshStats,
    "dd_source_dup_rate" -> ddSourceDupRate,
    "dd_cluster" -> ddCluster,
    "dd_simhash" -> ddSimhash,
    "dd_simhash_agg" -> ddSimhashAgg,
    "dd_simhash_pairs" -> ddSimhashPairs,
    "dd_jaccard_ngram" -> ddJaccardNgram,
    "dd_prefix_join" -> ddPrefixJoin,
    "dd_lev_pairs" -> ddLevPairs,
    "dd_typo_pairs" -> ddTypoPairs,
    "dd_containment" -> ddContainment,
    "dd_incremental" -> ddIncremental,
    "dd_embed_neardup_lsh" -> ddEmbedNeardupLsh)

  // ---- DuckDB oracles ------------------------------------------------

  private def duckHash(seed: Int, v: String) =
    s"('0x' || substr(md5('$seed' || ':' || $v), 1, 15))::BIGINT"

  /** Shared CTEs: tokens and shingles per doc (also read by
    * [[TextQueries]]'s novelty oracle so gram semantics can never
    * drift between the dedup and text families).
    */
  private[queries] val duckShingles =
    """WITH docs AS (
      |  SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS toks
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id, toks,
      |    CASE WHEN len(toks) >= 3 THEN
      |      list_transform(generate_series(1, len(toks) - 2),
      |        i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |    ELSE [array_to_string(toks, ' ')] END AS shingles
      |  FROM docs)""".stripMargin

  /** The full SimHash candidate-pair chain ending in
    * `sp(doc_a, doc_b, hamming)` — the exact near-dup pair set of
    * [[ddSimhashPairs]] (banded-bucket condition spelled out; it is the
    * pigeonhole image of hamming ≤ [[HammingMax]] over 4 bands). Shared
    * with [[GraphQueries]]'s triangle oracle so the pair graph the
    * triangles are counted on can never drift from the dedup family's.
    */
  private[queries] val duckSimhashPairsCtes: String =
    s"""$duckShingles,
      |hs AS (
      |  SELECT doc_id,
      |    list_transform(list_distinct(toks), t -> ${duckHash(99, "t")}) AS hv
      |  FROM sh),
      |sim AS (
      |  SELECT doc_id,
      |    list_sum(list_transform(generate_series(0, 59), j ->
      |      CASE WHEN 2 * len(list_filter(hv, h -> ((h >> j) & 1) = 1)) > len(hv)
      |           THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS simhash
      |  FROM hs),
      |sp AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    bit_count(xor(a.simhash, b.simhash))::INT AS hamming
      |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.simhash, b.simhash)) <= ${HammingMax}
      |    AND (((a.simhash >> 0) & 32767) = ((b.simhash >> 0) & 32767)
      |      OR ((a.simhash >> 15) & 32767) = ((b.simhash >> 15) & 32767)
      |      OR ((a.simhash >> 30) & 32767) = ((b.simhash >> 30) & 32767)
      |      OR ((a.simhash >> 45) & 32767) = ((b.simhash >> 45) & 32767)))""".stripMargin

  private val duckSigSelect = (0 until K).map { k =>
    s"list_min(list_transform(shingles, x -> ${duckHash(k, "x")})) AS sig_$k"
  }.mkString(",\n    ")

  private val duckBandSelect = (0 until B).map { b =>
    val rows = (0 until R).map(r => s"sig_${b * R + r}").mkString(" || ',' || ")
    s"md5($rows) AS bh_$b"
  }.mkString(",\n    ")

  private val duckBandOr = (0 until B).map(b => s"a.bh_$b = b.bh_$b").mkString(" OR ")

  private val duckSimhashSql: String =
    s"""$duckShingles,
      |hs AS (
      |  SELECT doc_id,
      |    list_transform(list_distinct(toks), t -> ${duckHash(99, "t")}) AS hv
      |  FROM sh)
      |SELECT doc_id,
      |  list_sum(list_transform(generate_series(0, 59), j ->
      |    CASE WHEN 2 * len(list_filter(hv, h -> ((h >> j) & 1) = 1)) > len(hv)
      |         THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS simhash
      |FROM hs""".stripMargin

  val oracle: Map[String, String] = Map(
    "dd_semdedup" ->
      s"""WITH ${SimQueries.duckKmChain},
        |${SimQueries.duckPrmLadder},
        |nv AS (
        |  SELECT e.vec_id, a.cid AS cluster, e.embedding,
        |    list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)) AS nrm,
        |    (${SimQueries.duckSigBits(SimQueries.MaxPlanes)}) AS sig
        |  FROM embeddings e JOIN ${SimQueries.duckKmFinal} a ON e.vec_id = a.vec_id),
        |${SimQueries.duckBanded("nv", "vec_id, cluster, embedding, nrm")},
        |cand AS (
        |  SELECT a.vec_id AS va, b.vec_id AS vb,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS dot,
        |    a.nrm AS na, b.nrm AS nb
        |  FROM banded a JOIN banded b
        |    ON a.cluster = b.cluster AND a.band = b.band AND a.bv = b.bv
        |   AND a.vec_id < b.vec_id),
        |dropped AS (
        |  SELECT DISTINCT vb AS vec_id FROM cand
        |  WHERE dot > 0 AND dot * dot >= ${SemThreshold * SemThreshold} * na * nb)
        |SELECT n.vec_id, n.cluster,
        |  (CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS keep
        |FROM nv n LEFT JOIN dropped d ON n.vec_id = d.vec_id""".stripMargin,
    "dd_para_dedup" ->
      """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |gs AS (SELECT doc_id, ws,
        |         unnest(range(0, CAST(ceil(len(ws) / 10.0) AS INT))) AS cid FROM ws),
        |chunks AS (
        |  SELECT doc_id, cid,
        |         array_to_string(ws[cid * 10 + 1 : cid * 10 + 10], ' ') AS para
        |  FROM gs),
        |firsts AS (SELECT para, min(doc_id) AS first_doc FROM chunks GROUP BY para),
        |kept AS (
        |  SELECT c.doc_id, c.para, min(c.cid) AS cid
        |  FROM chunks c JOIN firsts f ON c.para = f.para AND c.doc_id = f.first_doc
        |  GROUP BY c.doc_id, c.para)
        |SELECT doc_id, count(*) AS n_keep,
        |       string_agg(para, ' ' ORDER BY cid) AS text
        |FROM kept GROUP BY doc_id""".stripMargin,
    "dd_substring" ->
      s"""WITH docs AS (
        |  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS toks
        |  FROM documents),
        |gs AS (
        |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - ${SubGram - 1})) AS i
        |  FROM docs WHERE len(toks) >= $SubGram),
        |grams AS (
        |  SELECT doc_id, i - 1 AS pos,
        |    ('0x' || substr(md5(array_to_string(toks[i:i+${SubGram - 1}], ' ')), 1, 15))::BIGINT AS gh
        |  FROM gs),
        |dup AS (SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2),
        |hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup USING (gh)),
        |brk AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > $SubGram
        |         OR lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
        |    THEN 1 ELSE 0 END AS b
        |  FROM hits),
        |isl AS (
        |  SELECT doc_id, pos,
        |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
        |  FROM brk)
        |SELECT doc_id, min(pos) AS span_start, max(pos) + $SubGram AS span_end,
        |       count(*) AS n_dup_grams
        |FROM isl GROUP BY doc_id, island""".stripMargin,
    "dd_exact" ->
      """SELECT ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15))::BIGINT AS fp_long,
        | min(doc_id) AS keep_id, count(*) AS n_docs,
        | string_agg(doc_id::VARCHAR, chr(9) ORDER BY doc_id) AS member_ids
        | FROM documents GROUP BY 1""".stripMargin,
    "dd_minhash_sig" ->
      s"""$duckShingles
        |SELECT doc_id, $duckSigSelect
        |FROM sh""".stripMargin,
    "dd_source_dup_rate" ->
      """WITH f AS (
        |  SELECT source,
        |    ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15))::BIGINT AS fp
        |  FROM documents),
        |w AS (
        |  SELECT source, fp, count(*) OVER (PARTITION BY fp) AS n FROM f)
        |SELECT source, count(*) AS n_docs,
        |  sum(CASE WHEN n >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
        |  count(DISTINCT fp) AS n_distinct_contents
        |FROM w GROUP BY source""".stripMargin,
    "dd_lsh_stats" -> {
      val unpivot = (0 until B).map(b =>
        s"SELECT doc_id, $b AS band, bh_$b AS bh FROM bands").mkString("\n  UNION ALL ")
      s"""$duckShingles,
        |sig AS (
        |  SELECT doc_id, shingles, $duckSigSelect
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, $duckBandSelect
        |  FROM sig),
        |b AS (
        |  $unpivot),
        |sz AS (SELECT band, bh, count(*) AS sz FROM b GROUP BY band, bh)
        |SELECT band, count(*) AS n_buckets, sum(sz)::BIGINT AS n_docs,
        |  max(sz) AS max_bucket, (sum(sz * (sz - 1)) / 2)::BIGINT AS n_cand_pairs
        |FROM sz GROUP BY band""".stripMargin
    },
    "dd_minhash_pairs" ->
      s"""$duckShingles,
        |sig AS (
        |  SELECT doc_id, shingles, $duckSigSelect
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, list_distinct(shingles) AS shd, $duckBandSelect
        |  FROM sig)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.shd, b.shd)) AS n_inter,
        |  len(a.shd) + len(b.shd) - len(list_intersect(a.shd, b.shd)) AS n_union,
        |  2 * len(list_intersect(a.shd, b.shd)) >=
        |    len(a.shd) + len(b.shd) - len(list_intersect(a.shd, b.shd)) AS jacc_ge_half
        |FROM bands a JOIN bands b ON a.doc_id < b.doc_id AND ($duckBandOr)""".stripMargin,
    "dd_cluster" ->
      s"""$duckShingles,
        |sig AS (
        |  SELECT doc_id, shingles, $duckSigSelect
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, list_distinct(shingles) AS shd, $duckBandSelect
        |  FROM sig),
        |p AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b ON a.doc_id < b.doc_id AND ($duckBandOr)
        |  WHERE 2 * len(list_intersect(a.shd, b.shd)) >=
        |    len(a.shd) + len(b.shd) - len(list_intersect(a.shd, b.shd))),
        |edges AS (
        |  SELECT doc_a AS a, doc_b AS b FROM p
        |  UNION SELECT doc_b, doc_a FROM p),
        |reach(a, b) AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a WHERE e.b <> r.a)
        |SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster
        |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
        |GROUP BY d.doc_id""".stripMargin.replaceFirst("^WITH ", "WITH RECURSIVE "),
    "dd_simhash" -> duckSimhashSql,
    // the distributed-aggregate form computes the identical sketch
    "dd_simhash_agg" -> duckSimhashSql,
    "dd_simhash_pairs" ->
      s"""$duckSimhashPairsCtes
        |SELECT doc_a, doc_b, hamming FROM sp""".stripMargin,
    "dd_containment" ->
      s"""$duckShingles,
        |sig AS (
        |  SELECT doc_id, shingles, $duckSigSelect
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, list_distinct(shingles) AS shd, $duckBandSelect
        |  FROM sig)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(a.shd) AS n_a, len(b.shd) AS n_b,
        |  len(list_intersect(a.shd, b.shd)) AS n_inter,
        |  len(list_intersect(a.shd, b.shd)) * 5 >= len(a.shd) * 4 AS a_in_b,
        |  len(list_intersect(a.shd, b.shd)) * 5 >= len(b.shd) * 4 AS b_in_a
        |FROM bands a JOIN bands b ON a.doc_id < b.doc_id AND ($duckBandOr)""".stripMargin,
    // The naive form the blocking avoids: quadratic length-filtered
    // scan with a full Levenshtein per pair — correct by definition.
    "dd_typo_pairs" ->
      """WITH c AS (SELECT DISTINCT c_name FROM customer)
        |SELECT a.c_name AS name_a, b.c_name AS name_b
        |FROM c a JOIN c b
        |  ON abs(length(a.c_name) - length(b.c_name)) <= 1
        | AND a.c_name < b.c_name
        | AND levenshtein(a.c_name, b.c_name) = 1""".stripMargin,
    "dd_lev_pairs" ->
      s"""$duckShingles,
        |hs AS (
        |  SELECT doc_id,
        |    list_transform(list_distinct(toks), t -> ${duckHash(99, "t")}) AS hv
        |  FROM sh),
        |sim AS (
        |  SELECT doc_id,
        |    list_sum(list_transform(generate_series(0, 59), j ->
        |      CASE WHEN 2 * len(list_filter(hv, h -> ((h >> j) & 1) = 1)) > len(hv)
        |           THEN (1::BIGINT << j) ELSE 0::BIGINT END))::BIGINT AS simhash
        |  FROM hs),
        |prs AS (
        |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    bit_count(xor(a.simhash, b.simhash))::INT AS hamming
        |  FROM sim a JOIN sim b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.simhash, b.simhash)) <= ${HammingMax}
        |    AND (((a.simhash >> 0) & 32767) = ((b.simhash >> 0) & 32767)
        |      OR ((a.simhash >> 15) & 32767) = ((b.simhash >> 15) & 32767)
        |      OR ((a.simhash >> 30) & 32767) = ((b.simhash >> 30) & 32767)
        |      OR ((a.simhash >> 45) & 32767) = ((b.simhash >> 45) & 32767))),
        |px AS (
        |  SELECT doc_id,
        |    substr(regexp_replace(
        |      regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),
        |      '[^ -~]', '', 'g'), 1, 120) AS prefix
        |  FROM documents)
        |SELECT doc_a, doc_b, hamming,
        |  CASE WHEN full_lev > 24 THEN -1 ELSE full_lev END AS lev,
        |  full_lev <= 24 AS is_dup
        |FROM (
        |  SELECT prs.doc_a, prs.doc_b, prs.hamming,
        |    levenshtein(pa.prefix, pb.prefix) AS full_lev
        |  FROM prs
        |  JOIN px pa ON prs.doc_a = pa.doc_id
        |  JOIN px pb ON prs.doc_b = pb.doc_id)""".stripMargin,
    "dd_jaccard_ngram" ->
      """WITH g AS (
        |  SELECT doc_id,
        |    list_distinct(list_transform(
        |      generate_series(1, greatest(length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) - 2, 1)),
        |      i -> substr(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), i, 3))) AS grams
        |  FROM documents WHERE doc_id < 50)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.grams, b.grams)) AS n_inter,
        |  len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS n_union
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE 10 * len(list_intersect(a.grams, b.grams)) >=
        |  7 * (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))""".stripMargin,
    "dd_prefix_join" ->
      s"""$duckShingles,
        |g AS (SELECT doc_id, list_distinct(shingles) AS gs FROM sh)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  len(list_intersect(a.gs, b.gs))::BIGINT AS n_inter,
        |  (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))::BIGINT AS n_union
        |FROM g a JOIN g b ON a.doc_id < b.doc_id
        |WHERE $PjDen * len(list_intersect(a.gs, b.gs)) >=
        |  $PjNum * (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs)))""".stripMargin,
    "dd_incremental" ->
      s"""$duckShingles,
        |sig AS (
        |  SELECT doc_id, shingles, $duckSigSelect
        |  FROM sh),
        |bands AS (
        |  SELECT doc_id, list_distinct(shingles) AS shd, $duckBandSelect
        |  FROM sig),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_id, b.doc_id AS match_id
        |  FROM bands a JOIN bands b
        |    ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND ($duckBandOr)),
        |ver AS (
        |  SELECT c.doc_id, count(*) AS n_dups, min(c.match_id) AS first_match
        |  FROM cand c
        |  JOIN bands x ON x.doc_id = c.doc_id
        |  JOIN bands y ON y.doc_id = c.match_id
        |  WHERE 2 * len(list_intersect(x.shd, y.shd)) >=
        |    len(x.shd) + len(y.shd) - len(list_intersect(x.shd, y.shd))
        |  GROUP BY c.doc_id)
        |SELECT s.doc_id,
        |  CAST(coalesce(v.n_dups, 0) AS BIGINT) AS n_dups,
        |  v.first_match,
        |  v.n_dups IS NULL AS is_novel
        |FROM sig s LEFT JOIN ver v ON s.doc_id = v.doc_id
        |WHERE s.doc_id % 2 = 1""".stripMargin,
    "dd_embed_neardup_lsh" ->
      s"""WITH ${SimQueries.duckPrmLadder},
        |n AS (
        |  SELECT vec_id, label, embedding,
        |    list_sum(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE)) AS nrm,
        |    (${SimQueries.duckSigBits(SimQueries.MaxPlanes)}) AS sig
        |  FROM embeddings),
        |${SimQueries.duckBanded("n", "vec_id, label, embedding, nrm")},
        |cand AS (
        |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
        |    list_sum(list_transform(generate_series(1, 64),
        |      i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE)) AS dot,
        |    a.nrm AS na, b.nrm AS nb
        |  FROM banded a JOIN banded b
        |    ON a.label = b.label AND a.band = b.band AND a.bv = b.bv
        |   AND a.vec_id < b.vec_id)
        |SELECT DISTINCT vec_a, vec_b, label FROM cand
        |WHERE dot > 0 AND dot * dot >= 0.1225 * na * nb""".stripMargin)
}

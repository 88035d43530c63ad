package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.Tables
import graft.functions.{Hashing, TextExprs}

/** Text-analysis operators over the `documents` table — the
  * language-ID / quality-scoring / token-counting / fingerprinting layer a
  * large-scale training-data pipeline needs (beyond the reference's own
  * surface; extension per SURVEY §7). All are single-pass, shuffle-free
  * per-row transforms: at 100 TB they run map-side only, bounded by scan
  * throughput, and every expression is codegen'd built-in composition.
  */
object TextQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Whitespace token count, zero for blank text — the compiled
    * [[TextExprs.wsTokenCount]] byte-scan (== size(split(trim(s),"\\s+"))
    * with the blank special case folded in).
    */
  private def wsTokens(text: Column): Column = TextExprs.wsTokenCount(text)

  /** Per-language stopword alternations for the n-gram/stopword
    * language-ID heuristic. Word-boundary regex counts are portable
    * (Java regex and RE2 agree on \b and these literals).
    */
  val langStopwords: Seq[(String, String)] = Seq(
    "en" -> "the|and|of|to|in",
    "es" -> "el|la|de|que|y",
    "de" -> "der|die|und|ist|nicht",
    "fr" -> "le|et|les|des|une")

  /** ta_tokens — token counting: whitespace tokens + BPE-ish tokens
    * (letter runs / digit runs / single punctuation) + char length.
    * The BPE count runs in the compiled [[TextExprs.bpeTokenCount]]
    * byte-scan (== `regexp_count(lower(s), "[a-z]+|[0-9]+|[^a-z0-9\s]")`,
    * TextExprsSpec) — the last hot-path regex in the text family.
    */
  def taTokens: Q = (s, dir) => {
    Tables.documents(s, dir).select(
      col("doc_id"),
      wsTokens(col("text")).as("n_ws_tokens"),
      TextExprs.bpeTokenCount(lower(col("text"))).as("n_bpe_tokens"),
      length(col("text")).as("n_chars_txt"))
  }

  /** ta_langid — stopword-count language ID with a deterministic argmax
    * (ties resolve in declaration order en > es > de > fr).
    */
  def taLangid: Q = (s, dir) => {
    val scores = langStopwords.map { case (l, words) =>
      l -> TextExprs.wordSetCount(col("text"), words.split('|').toSeq)
    }
    val scoreCols = scores.map { case (l, c) => c.as(s"s_$l") }
    val Seq(en, es, de, fr) = scores.map(_._2)
    val pred = when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
    Tables.documents(s, dir).select(
      col("doc_id") +: col("lang") +: scoreCols :+ pred.as("pred_lang"): _*)
      .withColumn("lang_match", col("pred_lang") === col("lang"))
  }

  /** ta_quality — quality scoring on integer features (portable across
    * engines: no float division in the compared output): char/token
    * counts, punctuation count, stopword count, alpha chars, and the
    * quality flag from integer-arithmetic thresholds.
    */
  def taQuality: Q = (s, dir) => {
    val nTok = wsTokens(col("text"))
    val nPunct = TextExprs.punctCount(col("text"))
    val nStop = TextExprs.wordSetCount(col("text"),
      Seq("the", "and", "of", "to", "in", "a", "is"))
    val nAlpha = TextExprs.alphaCount(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      length(col("text")).as("n_chars_txt"),
      nTok.as("n_tokens"),
      nPunct.as("n_punct"),
      nStop.as("n_stopwords"),
      nAlpha.as("n_alpha"),
      // quality: 5..10000 tokens, punctuation < 20% of chars,
      // letters > 50% of chars — all as integer cross-multiplications
      (nTok >= 5 && nTok <= 10000 &&
        nPunct * 5 < length(col("text")) &&
        nAlpha * 2 > length(col("text"))).as("is_quality"))
  }

  /** ta_fingerprint — document fingerprint over whitespace-normalized
    * lowercase text: full md5 hex + the portable 60-bit long form used as
    * the exact-dedup / clustering key at scale.
    */
  def taFingerprint: Q = (s, dir) => {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    Tables.documents(s, dir).select(
      col("doc_id"),
      md5(norm).as("fp"),
      Hashing.md5Long(norm).as("fp_long"))
  }

  /** ta_winnow — MOSS-style winnowing fingerprints (Schleimer et al.
    * SIGMOD'03): rolling 5-gram polynomial hash over the normalized text,
    * sliding-window-4 minima, one (doc_id, fp) row per distinct
    * fingerprint. The fingerprint-sharing join is the plagiarism/overlap
    * detector of a training-data pipeline: docs sharing any fingerprint
    * are near-dup candidates, and the shuffle key is the fingerprint —
    * never an all-pairs product. One compiled pass per document
    * ([[TextExprs.winnowFingerprints]]).
    */
  def taWinnow: Q = (s, dir) => {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(TextExprs.winnowFingerprints(norm)).as("fp"))
  }

  /** ta_ngram_novelty — per-document n-gram novelty: of each document's
    * distinct 3-token shingles, how many are FIRST seen in this document
    * (corpus order = doc_id)? A low-novelty document is boilerplate /
    * near-memorized content — the repetition-across-the-corpus twin of
    * [[taRepetition]]'s within-document signal, and a standard
    * training-data curation score (documents contributing no new n-grams
    * get down-weighted). Shingle semantics are the dedup family's
    * ([[DedupQueries.shingledFrame]]) on BOTH engine sides, so "gram"
    * means the same thing to the near-dup detector and this score.
    * Output: (doc_id, n_grams, n_novel, novelty_micro) with the ratio in
    * integer micro-units (`(10⁶·n_novel) div n_grams` — bit-exact).
    *
    * Scale: the exploded gram stream is repartitioned ONCE by gram and
    * persisted (FrameCache); the first-seen aggregate groups on that
    * partitioning exchange-free and the gram⋈first-seen join is
    * co-partitioned with it, so the only additional shuffle is the final
    * per-document rollup. Gram volume ≈ token volume — linear in corpus.
    */
  def taNgramNovelty: Q = (s, dir) => noveltyOf(sharedGramStream(s, dir))

  /** The exploded distinct (doc_id, gram) stream of a (doc_id, text)
    * frame, gram = the dedup family's 3-token shingle.
    */
  private[graft] def gramStream(docs: DataFrame): DataFrame =
    DedupQueries.shingledFrame(docs)
      .select(col("doc_id"), explode(array_distinct(col("shingles"))).as("gram"))

  /** The corpus's (doc_id, gram) stream as a DURABLE artifact shared by
    * the prefix-join and novelty families: tokenized ONCE per corpus
    * version into a parquet index ([[graft.sources.DurableIndex]],
    * identity = the documents table's content), then served
    * gram-partitioned through the session FrameCache. Two costs
    * disappear at once: a second query in the same session reuses the
    * persisted frame (as before), and a session — or a long one-JVM
    * suite whose storage pressure EVICTED the cached blocks — rebuilds
    * from a columnar scan of the index instead of re-running the
    * tokenize+explode pipeline over the corpus (the measured suite-vs-
    * solo gap on dd_prefix_join at sf10). At 100 TB this is the
    * difference between "every consumer pays the tokenizer" and "the
    * tokenizer ran once when the corpus version landed".
    */
  private[graft] def sharedGramStream(s: SparkSession, dir: String): DataFrame =
    FrameCache.cached(s, s"ta_grams_stream:$dir") {
      val root = gramIndexRoot(s, dir)
      // Byte-derived cache width (r15, the graph family's idiom): the old
      // repartition(col) inherited spark.sql.shuffle.partitions — the
      // CORE COUNT in the bench — so every consumer stage ran `cpus`
      // near-empty tasks over a 2.3 MB index at sf0.1 (measured
      // anti-scaling). One task per 256 KB of index (the gram stream is
      // CPU-denser than raw bytes suggest: window ranks, hash builds),
      // capped at 4× parallelism → 9 at sf0.1, cores-capped at sf10's
      // 212 MB index.
      s.read.parquet(root.resolve("grams").toString)
        .repartition(gramWidth(s, dir), col("gram"))
    }

  /** The durable gram index's root for this corpus version, building it
    * on first use (see [[sharedGramStream]]).
    */
  private def gramIndexRoot(s: SparkSession, dir: String): java.nio.file.Path = {
    import java.nio.file.Paths
    val src = Paths.get(dir).resolve("documents.parquet")
    // grams4: the documents table is spread before tokenization — a
    // single-row-group corpus file otherwise runs the whole
    // tokenize+explode pipeline as ONE task (it is whole-stage-
    // pipelined into the scan) and lands the index as one file whose
    // readback has the same problem (optimization r14; see
    // Layout.spread). The spread exchange moves the raw corpus once,
    // only when the input is under-split; a production many-split
    // corpus passes through with no exchange.
    val ident = s"$src:${graft.sources.ContentIdent.of(src)}:grams4"
    graft.sources.DurableIndex.once("graft-gram-index", ident) { tmp =>
      gramStream(graft.sources.Layout.spread(Tables.documents(s, dir)))
        .write.mode("overwrite").parquet(tmp.resolve("grams").toString)
    }
  }

  /** The [[sharedGramStream]] cache width — byte-derived from the
    * on-disk index, for consumers that pin their plans at it
    * ([[graft.queries.DedupQueries.ddPrefixJoin]]). ContentIdent is
    * metadata-only, so recomputing the root here is cheap.
    */
  private[graft] def gramWidth(s: SparkSession, dir: String): Int =
    Tuned.widthForBytes(s,
      Tuned.dirBytes(gramIndexRoot(s, dir).resolve("grams")), 256L << 10)

  /** The novelty rollup over a distinct (doc_id, gram) stream — split
    * out so the spec can drive constructed corpora; see
    * [[taNgramNovelty]].
    */
  private[graft] def noveltyOf(grams: DataFrame): DataFrame = {
    val first = grams.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(first, Seq("gram"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_micro", expr("(1000000 * n_novel) div n_grams"))
  }

  /** ta_profile — the "describe my corpus" scan: doc/lang counts, exact
    * length extremes/sums, and length percentiles, in ONE aggregate pass
    * (map-side partial aggregation, one exchange). Percentiles round to 6
    * decimals so linear-interpolation float noise can't flip the oracle
    * hash. At 100 TB this is the profiling job that sizes every
    * downstream cleaning threshold.
    */
  def taProfile: Q = (s, dir) => {
    Tables.documents(s, dir)
      .select(col("lang"), length(col("text")).as("len"),
        TextExprs.wsTokenCount(col("text")).as("ntok"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        min(col("len")).as("min_len"),
        max(col("len")).as("max_len"),
        sum(col("len")).as("sum_len"),
        sum(col("ntok")).as("sum_tokens"),
        bround(expr("percentile(len, 0.5)"), 6).as("median_len"),
        bround(expr("percentile(len, 0.9)"), 6).as("p90_len"))
  }

  /** ta_vocab — corpus vocabulary: top-100 whitespace tokens by frequency
    * (ties by token). explode → hash-partitioned count with map-side
    * combine → TakeOrderedAndProject; the vocabulary/frequency-table pass
    * every tokenizer build starts from. At 100 TB the combine step means
    * the shuffle carries one row per (partition, distinct token), not per
    * token occurrence.
    */
  /** The exploded (doc_id, source, tok) whitespace-token stream,
    * persisted ONCE per corpus (FrameCache) — the in-memory stand-in for
    * the tokenized corpus table a production pipeline materializes on
    * disk next to the raw text. The token family (vocab, both
    * heavy-hitter faces, unigram LM scoring) reads this one table
    * instead of re-tokenizing text per query — and per PASS: the
    * two-pass exact heavy hitters and the two-sided unigram join each
    * read it twice. Same pattern (and same justification) as the dedup
    * family's shared signature table [[DedupQueries.cachedSigs]].
    */
  private def cachedToks(s: SparkSession, dir: String): DataFrame =
    FrameCache.cached(s, s"ta_tokens_stream:$dir")(
      Tables.documents(s, dir).select(col("doc_id"), col("source"),
        explode(TextExprs.wsSplit(lower(trim(col("text"))))).as("tok")))

  def taVocab: Q = (s, dir) => {
    cachedToks(s, dir)
      .groupBy(col("tok")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok").asc)
      .limit(100)
  }

  /** [[taCooccur]] support thresholds as integer percent of corpus size
    * (thresholds are `n_docs·pct div 100` — integer in both engines).
    */
  val CoMinSupPct = 10L
  val CoPairSupPct = 5L

  /** ta_cooccur — frequent token-PAIR mining (the A-Priori/SON
    * market-basket pass over documents-as-baskets): token pairs that
    * co-occur in ≥ [[CoPairSupPct]]% of documents, with an integer
    * association score lift_micro = ⌊10⁶·n_docs·N / (c_a·c_b)⌋ (>10⁶ ⇔
    * positively associated — the stopword-collocation / boilerplate-
    * phrase detector of corpus curation, and the first pass of any
    * frequent-itemset build).
    *
    * Scale: textbook A-Priori pruning makes the pair stage tractable —
    * pass 1 finds frequent TOKENS (one combine-heavy aggregation over
    * the shared token stream, [[cachedToks]]); only baskets restricted
    * to that set enter pair generation (monotonicity: a frequent pair's
    * members are frequent), so the self-join blowup is bounded by
    * per-doc FREQUENT-distinct count, not document length, and the pair
    * aggregation's key space by |frequent|² — small enough that map-side
    * combine collapses the shuffle to O(partitions·|frequent|²) rows
    * whatever the corpus size. The frequent table broadcasts (it is
    * ≤ vocabulary-sized); the doc_id self-join co-partitions both sides
    * on one exchange each. At 100 TB the only full-data pass is the
    * distinct + semi-join scan — everything downstream lives in
    * frequent-set space.
    */
  def taCooccur: Q = (s, dir) => {
    // Pinned static width-matched plan (r15; see Tuned): the A-Priori
    // pipeline is ~6 small stages over KB–MB frequent-set frames, and
    // at 32 cores the core-count-wide tiny tasks plus AQE's per-stage
    // materialization jobs dominated (the r14 driver bench measured
    // this query FASTER at 8 cores: 0.49 vs 0.99 s). Width follows the
    // compressed corpus bytes (one task per 64 KB — token streams
    // expand ~30× from compressed text), capped at 4× parallelism.
    val width = Tuned.widthForBytes(s,
      graft.Tables.fileBytes(dir, "documents"), 64L << 10)
    Tuned.pinned(s, width) {
    val fd = FrameCache.cached(s, s"ta_doc_tok_distinct:$dir")(
      cachedToks(s, dir).select(col("doc_id"), col("tok")).distinct()
        .repartition(width, col("doc_id")))
    val nDocs = FrameCache.cachedValue(s, s"ta_n_docs:$dir")(
      Tables.documents(s, dir).count())
    val freq = fd.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= lit(nDocs * CoMinSupPct / 100L))
    val ff = fd.join(broadcast(freq.select(col("tok"))), Seq("tok"), "left_semi")
    ff.select(col("doc_id"), col("tok").as("tok_a"))
      .join(ff.select(col("doc_id"), col("tok").as("tok_b")), Seq("doc_id"))
      .filter(col("tok_a") < col("tok_b"))
      .groupBy(col("tok_a"), col("tok_b")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= lit(nDocs * CoPairSupPct / 100L))
      .join(broadcast(freq.select(col("tok").as("tok_a"), col("c").as("c_a"))), Seq("tok_a"))
      .join(broadcast(freq.select(col("tok").as("tok_b"), col("c").as("c_b"))), Seq("tok_b"))
      .select(col("tok_a"), col("tok_b"), col("n_docs"),
        // 128-bit intermediate: 10⁶·n_docs·N wraps a Long once N exceeds
        // ~3M docs (and c_a·c_b wraps even earlier at corpus scale), so
        // both the product and the divisor go through DECIMAL(38,0);
        // `div` (IntegralDivide) folds the quotient back to BIGINT, which
        // always fits because lift is bounded by 10⁶·N/max(c_a,c_b) ≤ 10⁶·N.
        expr(s"CAST(1000000 AS DECIMAL(38,0)) * n_docs * ${nDocs}L" +
          " div (CAST(c_a AS DECIMAL(38,0)) * c_b)").as("lift_micro"))
    }
  }

  /** td_redact — PII scrubbing: email/phone/long-digit-run patterns
    * replaced with typed placeholder tokens, plus per-doc redaction
    * counts. Pure map (scan-throughput at 100 TB); patterns are kept in
    * the RE2-compatible subset so any engine applies the identical
    * rewrite — the DuckDB oracle still runs the regex cascade, while the
    * Spark side computes the identical result with the compiled
    * [[TextExprs.piiRedact]] kernel (one call returns redacted text AND
    * the email count; the 3×regexp_replace + regexp_count form paid four
    * full regex scans per document — 3.3 s at sf1 vs ~0.8 s compiled).
    * PiiRedactSpec pins kernel ≡ regex on the corpus and on adversarial
    * generated strings.
    */
  def tdRedact: Q = (s, dir) => {
    val red = TextExprs.piiRedact(col("text"))
    Tables.documents(s, dir).select(
      col("doc_id"),
      red.getField("n_emails").as("n_emails"),
      red.getField("clean_text").as("clean_text"))
  }

  /** td_split — deterministic train/validation/test assignment by
    * content-stable hash (doc_id-keyed md5): reproducible across engines,
    * runs, and partitionings — never `rand()`, which breaks lineage on
    * retry. 90/5/5; the query returns the assignment plus the split
    * counts as a sanity aggregate.
    */
  def tdSplit: Q = (s, dir) => {
    val bucket = pmod(Hashing.md5Long(col("doc_id").cast("string")), lit(100L))
    val split = when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")
    Tables.documents(s, dir)
      .select(col("doc_id"), split.as("split"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"),
        sum(col("doc_id")).as("sum_ids"))
  }

  /** td_stratified_sample — deterministic per-stratum downsampling (the
    * data-mixing op behind every corpus rebalance: keep 25% of English,
    * 60% of Chinese, all of the rest). Membership is a pure hash of
    * doc_id — reproducible across runs, engines, partitionings, and
    * re-ingests; never rand(), which breaks resume and lineage. The
    * per-stratum rate is a literal CASE (a broadcast-sized control
    * table at scale), the filter is map-side BEFORE any shuffle, and
    * the summary agg (with an exact membership checksum) is the only
    * exchange.
    */
  def tdStratifiedSample: Q = (s, dir) => {
    val rate = when(col("lang") === "en", 25L)
      .when(col("lang") === "zh", 60L)
      .otherwise(100L)
    val keep = pmod(Hashing.md5Long(col("doc_id").cast("string")), lit(100L)) < rate
    Tables.documents(s, dir)
      .filter(keep)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        sum(col("doc_id")).cast("long").as("sum_ids"),
        sum(col("n_chars")).cast("long").as("sum_chars"))
  }

  /** td_pack — sequence packing for training: documents (in id order)
    * greedily packed into ~512-token bins by running token count, the
    * standard pretraining batch-prep op. The running sum uses
    * [[graft.operators.PrefixSum]] — a range-partition + per-partition
    * window + broadcast offsets, NOT a partitionless global window (which
    * funnels the whole corpus through one task). bin = floor(tokens
    * before this doc / 512): a doc can straddle a boundary (its tokens
    * overflow into the next bin), matching how packed pretraining
    * sequences split documents at sequence edges.
    */
  def tdPack: Q = (s, dir) => {
    val target = 512
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"),
        TextExprs.wsTokenCount(col("text")).cast("long").as("n_tokens"))
    graft.operators.PrefixSum
      .withRunningSum(toks, "doc_id", "n_tokens", "cum_tokens")
      .withColumn("bin", floor((col("cum_tokens") - col("n_tokens")) / target))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
  }

  /** ta_heavy_hitters — per-source frequent tokens via the SpaceSaving
    * sketch aggregate ([[graft.functions.SpaceSavingAgg]]): 16 bounded
    * counters per group combined map-side, so the shuffle carries one
    * small buffer per (partition, source) instead of the token stream —
    * the sketch twin of the exact `ta_vocab` the way `a2_approx_distinct`
    * twins `a2_count_distinct`. Approximate (merge-order dependent), so
    * no oracle by declaration; TextExprsSpec asserts the SpaceSaving
    * guarantees against exact counts instead.
    */
  def taHeavyHitters: Q = (s, dir) => {
    // ORACLE-INFEASIBLE by design, permanently: SpaceSaving's (est, err)
    // are a function of the partial-merge TREE, not just the data —
    // Spark folds per-partition sketches in whatever shape partitioning
    // and scheduling produce, so no sequential SQL replay (the
    // ev_rate_limit recursive-CTE idiom) can reproduce them without
    // first forcing this side into a single sequential fold, i.e.
    // un-distributing the operator. What IS data-deterministic — the
    // sketch guarantee true ≤ est ≤ true + err and the superset
    // property over exact heavy hitters — is spec-locked
    // (SpaceSavingAggSpec), and ta_heavy_hitters_exact is the oracled
    // exact twin of this query.
    // text-mode sketch: tokenize inside the aggregate's update (one
    // corpus scan, r12) — the exploded cachedToks stream at sf10 is
    // 128M rows whose only consumer here is a 16-counter sketch
    Tables.documents(s, dir).groupBy(col("source"))
      .agg(graft.functions.SpaceSavingAgg
        .spaceSavingText(lower(trim(col("text"))), 16).as("hh"))
      .select(col("source"), posexplode(col("hh")))
      .select(col("source"), (col("pos") + 1).as("pos"),
        col("col.item").as("item"), col("col.est").as("est"), col("col.err").as("err"))
  }

  /** ta_heavy_hitters_exact — the DETERMINISTIC face of the sketch: the
    * classic two-pass exact heavy-hitters. Pass 1 runs the SpaceSaving
    * sketch per source; its guarantee (every item with true count >
    * n/capacity is reported) makes the ≤16-per-source candidate list a
    * SUPERSET of the true heavy-hitter set regardless of merge order.
    * Pass 2 counts the candidates EXACTLY in one compiled byte-scan
    * over `text` ([[graft.functions.TokenSetCounts]]: each ws-run
    * probed into the source's candidate map, one count vector per doc)
    * and keeps those clearing the n/cap threshold — the output is the
    * unique truth set with exact counts, so it is DuckDB-oracle-able
    * where the sketch face (est/err, merge-order-dependent) is
    * spec-bounded only. At 100 TB: pass 2 is map-side-combined partials
    * over ≤ cap×|sources| keys — it never re-explodes the token stream
    * and shuffles O(candidates), not O(tokens) (the r10 join form paid
    * a second exploded-stream scan; 3× DuckDB at sf10).
    * Capacity 64 (threshold 1/64 of the source's
    * stream): the corpus' flat synthetic vocabulary tops out near a 4.6%
    * token share, so the sketch face's 1/16 would certify an empty set —
    * true but vacuous; 1/64 exercises the threshold against real data.
    */
  def taHeavyHittersExact: Q = (s, dir) => {
    val cap = 64
    // The sketch runs at 4× the threshold divisor: the textbook
    // "every item above n/k survives" proof assumes sum(estimates) ≤ n,
    // which the bound-preserving multi-level merge (min-counter offsets
    // added before pruning) can exceed — at sketchCap == cap a
    // borderline heavy hitter could in principle be outranked by
    // inflated estimates and evicted. 4× slack keeps the candidate
    // list a superset with margin; pass 2's exact n/64 threshold (and
    // the oracle) are unchanged.
    val sketchCap = 4 * cap
    // pass 1 — ONE corpus scan: the sketch tokenizes inside its update
    // (spaceSavingText, r12 — the r11 form still read the 128M-row
    // exploded cachedToks stream through the aggregate iterator, which
    // was the pass's whole cost at sf10), and the per-source stream
    // length rides in the SAME aggregate (sum of the codegen'd ws token
    // count ≡ count over the exploded stream — shared scanner).
    val candRows = Tables.documents(s, dir).groupBy(col("source"))
      .agg(graft.functions.SpaceSavingAgg
          .spaceSavingText(lower(trim(col("text"))), sketchCap).as("hh"),
        sum(TextExprs.wsTokenCount(col("text")).cast("long")).as("n"))
      .select(col("source"), col("n"), explode(col("hh.item")).as("tok"))
      .collect() // bounded control table: ≤ sketchCap × |sources| rows
    val candsBySource: Map[String, Array[String]] = candRows
      .groupBy(_.getString(0))
      .map { case (src, rs) => src -> rs.map(_.getString(2)).sorted }
    val nBySource: Map[String, Long] =
      candRows.map(r => r.getString(0) -> r.getLong(1)).toMap
    // pass 2 — ONE compiled byte-scan over `text` (no token explode, no
    // join with the token stream): TokenSetCounts probes each ws-run of
    // lower(trim(text)) into the row's source's candidate map and emits
    // a count vector; only ≤ sketchCap tiny (source, slot, cnt) partials
    // per doc reach the (map-side-combined) aggregate.
    val idx = new graft.functions.TokenSetIndex(candsBySource)
    val slotTok = s.createDataFrame(
      s.sparkContext.parallelize(candsBySource.toSeq.flatMap { case (src, ts) =>
        ts.zipWithIndex.map { case (t, i) =>
          org.apache.spark.sql.Row(src, i, t, nBySource(src))
        }
      }, 1),
      StructType(Seq(
        StructField("source", StringType), StructField("pos", IntegerType),
        StructField("item", StringType), StructField("n", LongType))))
    Tables.documents(s, dir)
      .select(col("source"), graft.functions.TextExprs.tokenSetCounts(
        col("source"), lower(trim(col("text"))), idx).as("c"))
      .groupBy(col("source"))
      .agg(graft.functions.LongVecSumAgg.vecSum(col("c")).as("cnts"))
      .select(col("source"), posexplode(col("cnts")))
      .withColumnRenamed("col", "cnt")
      .join(broadcast(slotTok), Seq("source", "pos"))
      .filter(col("cnt") * cap > col("n"))
      .select(col("source"), col("item"), col("cnt"))
  }

  /** ta_quality_model — model-based quality filtering (the fastText /
    * DCLM-classifier stage of a training pipeline, reduced to a linear
    * model whose weights are literals): logit = w·features over the
    * stopword/punctuation/alpha ratios. Map-only, codegen'd, zero
    * shuffles — the score is one projection over the scan, which is
    * exactly the shape a learned-classifier filter has at 100 TB (the
    * model is broadcast weights, never a join). All feature arithmetic
    * is per-row IEEE double with a pinned evaluation order, so the two
    * engines agree bit-for-bit and the keep threshold cannot flip. The
    * bias (-2.4) is calibrated so the filter actually discriminates on
    * the committed corpora (~22% kept at sf0.001/0.01/0.1) with the
    * nearest logit >= 1.8e-4 from the boundary at every scale — a
    * vacuously-true keep would leave the threshold property untested.
    */
  def taQualityModel: Q = (s, dir) => {
    val nTok = wsTokens(col("text")).cast("double")
    val nStop = TextExprs.wordSetCount(col("text"),
      Seq("the", "and", "of", "to", "in", "a", "is")).cast("double")
    val nPunct = TextExprs.punctCount(col("text")).cast("double")
    val nAlpha = TextExprs.alphaCount(col("text")).cast("double")
    val nChars = length(col("text")).cast("double")
    val logit = lit(-2.4) +
      lit(4.0) * (nStop / greatest(nTok, lit(1.0))) -
      lit(6.0) * (nPunct / greatest(nChars, lit(1.0))) +
      lit(2.5) * (nAlpha / greatest(nChars, lit(1.0)))
    Tables.documents(s, dir).select(
      col("doc_id"),
      bround(logit, 6).as("quality_logit"),
      (logit > 0d).as("keep"))
  }

  /** td_curriculum — curriculum phase assignment: documents binned into
    * four difficulty phases by EXACT token-count quartiles (shortest
    * quartile = phase 1 … longest = phase 4), the length-ordered
    * curriculum schedule of staged LLM training. Quantile binning
    * WITHOUT a global sort: the three boundaries come from one exact
    * mergeable percentile aggregate (the a12 machinery), are collected
    * as a 3-double control row — the codebook/centroid pattern — and
    * the phase is then a pure broadcast-literal map over the scan.
    * Boundary comparisons are exact cross-engine: quartile
    * interpolation at f ∈ {.25,.5,.75} of integer counts is
    * power-of-two arithmetic, identical doubles in Spark and DuckDB
    * (proven by a12's hash match).
    *
    * Scale: one partial-aggregated percentile pass + one map pass; the
    * NTILE alternative is a partitionless window (single-task global
    * sort). Ties land in the lower phase on both engines (strict >).
    */
  def tdCurriculum: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), wsTokens(col("text")).cast("long").as("n_tokens"))
    val qs = docs.agg(expr("percentile(n_tokens, array(0.25, 0.5, 0.75))"))
      .head.getSeq[Double](0)
    docs.withColumn("phase",
      lit(1) + (col("n_tokens") > qs(0)).cast("int") +
        (col("n_tokens") > qs(1)).cast("int") +
        (col("n_tokens") > qs(2)).cast("int"))
  }

  /** td_shuffle — deterministic epoch shuffle: every document's global
    * training-order position for a seed, as rank over md5(seed:doc_id).
    * The rank comes from [[graft.operators.PrefixSum]] (range exchange +
    * per-partition windows + broadcast offsets), NOT a partitionless
    * `row_number() OVER (ORDER BY ...)` — the single-task global sort
    * that dies at 100 TB. Re-keying with a different seed reshuffles
    * every epoch with no state; md5 keys are collision-free per doc so
    * the order is total without a tie-break.
    */
  def tdShuffle: Q = (s, dir) => {
    val seed = 7
    val keyed = Tables.documents(s, dir)
      .select(col("doc_id"),
        md5(concat_ws(":", lit(seed), col("doc_id"))).as("sk"),
        lit(1L).as("__one"))
    graft.operators.PrefixSum
      .withRunningSum(keyed, "sk", "__one", "pos")
      .select(col("doc_id"), col("pos"))
  }

  /** ta_unigram_lp — unigram language-model scoring (the CCNet-style
    * quality filter proxy: docs whose tokens are improbable under the
    * corpus unigram distribution are gibberish/noise candidates). Corpus
    * term frequencies via one token aggregate; per-doc mean log-prob via
    * a second. Both shuffles key on bounded sets (vocab, doc_id). The
    * frequency join is deliberately UNHINTED — the ta_tfidf rule: the
    * unigram vocabulary GROWS with the corpus (heavy-tailed, but
    * unbounded), so a forced broadcast() would OOM the driver on a
    * web-scale vocab. Instead the frequency table is a MATERIALIZED
    * FrameCache artifact (the LM model table — built once per corpus,
    * shared with the scoring family), so the planner sees its TRUE size
    * and the initial plan already broadcasts it below the threshold —
    * without materialized stats the optimizer estimates the aggregate
    * at token-stream size, plans a sort-merge join, and the whole
    * stream pays a pointless exchange before AQE's too-late broadcast
    * conversion (measured 7.8 → 24 s at sf10). Past the threshold the
    * stats are honestly huge and the join degrades to shuffle. Only
    * the 1-row scalar total keeps a hint.
    */
  def taUnigramLp: Q = (s, dir) => {
    val toks = cachedToks(s, dir).select(col("doc_id"), col("tok"))
    val freq = FrameCache.cached(s, s"ta_unigram_freq:$dir")(
      toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt")))
    // eager materialization: an unmaterialized cache reports its CHILD's
    // token-volume estimate, which would defeat the stats-driven
    // broadcast this plan's scale story relies on
    FrameCache.cachedValue(s, s"ta_unigram_freq_n:$dir")(freq.count())
    val total = freq.agg(sum(col("cnt")).cast("double").as("total"))
    toks.join(freq, Seq("tok"))
      .crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"),
        bround(avg(log(col("cnt").cast("double") / col("total"))), 6)
          .as("avg_lp"))
  }

  /** [[taBm25]] query terms: the document-frequency-ranked terms in
    * positions [lo, hi] (df DESC, token ASC) — 8 terms from the TAIL of
    * the synthetic corpus's 31-token vocabulary, which is where its idf
    * spread lives (seven common terms plus the one genuinely rare
    * token), derived deterministically from the corpus instead of
    * hard-coding vocabulary the synthetic text may not contain. BM25
    * constants are the textbook defaults; the (k1+1) and (1-b) factors
    * are written as LITERALS so the engine and the DuckDB oracle
    * evaluate the identical double constants.
    */
  val Bm25RankLo = 24
  val Bm25RankHi = 31
  val Bm25TopK = 100

  /** ta_bm25 — Okapi BM25 ranked retrieval (Robertson & Walker's
    * probabilistic relevance scoring, the default ranking function of
    * Lucene/Elasticsearch): score every document against a fixed 8-term
    * query and return the top-[[Bm25TopK]] hits. The retrieval twin of
    * [[taTfidf]]'s keyword extraction — tf-idf characterizes a document,
    * BM25 ranks documents for a query, saturating term frequency (k1)
    * and normalizing by document length (b).
    *
    * Scale shape (the inverted-retrieval plan, not score-everything):
    *  - the document-frequency table is the search index's vocabulary
    *    artifact — built ONCE per corpus (FrameCache; one exchange of
    *    distinct (tok, doc) pairs keyed by token) and shared;
    *  - query-term selection is a distributed top-k (TakeOrdered over
    *    the vocab, never a global single-partition window), then a
    *    window over ≤[[Bm25RankHi]] collected rows;
    *  - the token stream joins the 8-row query BROADCAST — a map-side
    *    filter, so only matching postings reach the tf aggregate (at
    *    100 TB: the postings of 8 terms, not the corpus);
    *  - doc lengths are a zero-shuffle compiled-kernel scan
    *    ([[graft.functions.TextExprs.wsTokenCount]]); corpus stats
    *    (N, total length) broadcast as a 1-row frame;
    *  - the final ranking is a TakeOrderedAndProject on the ROUNDED
    *    score with doc_id tie-break, so top-k membership is
    *    deterministic across engines.
    * Floats follow the house ta_unigram_lp policy: identical literal
    * constants and operation order on both engine sides, `ln` (1-ulp
    * class) absorbed by bround(·, 6).
    */
  def taBm25: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val toks = cachedToks(s, dir).select(col("doc_id"), col("tok"))
    val dfTab = FrameCache.cached(s, s"ta_bm25_df:$dir")(
      toks.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df")))
    val q = dfTab.orderBy(col("df").desc, col("tok").asc).limit(Bm25RankHi)
      // a deliberate global window: its input is the Bm25RankHi rows the
      // limit keeps (Spark still logs `WindowExec: No Partition Defined`)
      .withColumn("rn",
        row_number().over(Window.orderBy(col("df").desc, col("tok").asc)))
      .filter(col("rn") >= Bm25RankLo)
      .select(col("tok"), col("df"))
    val lens = Tables.documents(s, dir).select(col("doc_id"),
      TextExprs.wsTokenCount(col("text")).cast("long").as("len"))
    val stats = lens.agg(count(lit(1)).cast("double").as("n"),
      sum(col("len")).cast("double").as("sl"))
    toks.join(broadcast(q), Seq("tok"))
      .groupBy(col("doc_id"), col("tok"), col("df"))
      .agg(count(lit(1)).cast("double").as("tf"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log(lit(1.0) + (col("n") - col("df") + lit(0.5)) /
            (col("df") + lit(0.5))) *
          (col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) *
            (lit(0.25) + lit(0.75) * col("len") / (col("sl") / col("n")))))
          .as("c"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), bround(sum(col("c")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25TopK)
  }

  /** ta_repetition — Gopher-style repetition signals (Rae et al. 2021,
    * "Scaling Language Models", §A1.1 repetition filters): fraction of
    * tokens taken by the most frequent token, and duplicate-bigram
    * fraction. Repetitive boilerplate (nav bars, spam, generated text)
    * shows up as a dominant token or repeated n-grams long before any
    * model sees it. All-integer outputs; the flag uses integer
    * cross-multiplication (top token > 20% of tokens, or > 25% of bigrams
    * duplicated). Every stat is per-document, so the whole query is ONE
    * zero-shuffle scan: the compiled [[TextExprs.tokenRepStats]] kernel
    * streams each doc's bytes once, interning tokens into an id map and
    * counting exact distinct bigrams as packed id pairs — replacing the
    * explode → two-level aggregate → join form that shuffled
    * token-scale data three times (4.2 s → map-only at sf1). Docs with
    * zero tokens drop, mirroring the oracle's inner join against the
    * per-token aggregate.
    */
  def taRepetition: Q = (s, dir) => {
    val st = TextExprs.tokenRepStats(lower(trim(col("text"))))
    Tables.documents(s, dir)
      .select(col("doc_id"), st.as("st"))
      .select(col("doc_id"),
        col("st").getItem(0).as("n_tok"),
        col("st").getItem(1).cast("long").as("n_distinct_tok"),
        col("st").getItem(2).cast("long").as("max_tok_freq"),
        greatest(col("st").getItem(0) - 1, lit(0)).as("n_bigrams"),
        col("st").getItem(3).as("n_distinct_bigrams"))
      .filter(col("n_tok") >= 1)
      .withColumn("is_repetitive",
        col("max_tok_freq") * 5 > col("n_tok") ||
          (col("n_bigrams") - col("n_distinct_bigrams")) * 4 > col("n_bigrams"))
  }

  /** ta_tfidf — top-3 characteristic terms per document by tf-idf: the
    * keyword-extraction / topic-signal pass. ONE shuffle of the full
    * token volume: tokens are explicitly repartitioned by doc_id, which
    * every downstream step then reuses — the (doc, tok) term-frequency
    * aggregate (doc_id partitioning satisfies its clustered
    * distribution, so it plans a complete aggregate with no exchange)
    * and the per-doc ranking window alike. Document frequency shuffles
    * only the bare token column of the tf frame and joins back UNHINTED:
    * the vocabulary is heavy-tailed and orders of magnitude smaller than
    * the corpus, so the planner broadcasts it below the threshold (the
    * plan at bench scale), and past the broadcast limit it genuinely
    * falls back to a shuffle join — a forced broadcast() hint would
    * instead die at the size limit, so the hint is deliberately absent.
    * This replaced a 3-shuffle plan — (doc,tok) agg, tok join, doc
    * window — that re-shuffled token-scale data twice; 6.5 s → ~2.3 s
    * at sf1. r12: the term-frequency aggregate itself moved INTO the
    * scan — [[graft.functions.TextExprs.tokTf]] emits each document's
    * already-collapsed (tok, tf) pairs from one compiled byte scan
    * (equivalence spec: TextExprsSpec), so the full token stream (every
    * repeat a row) is never materialized at all; the surviving
    * exchanges carry only distinct-(doc,tok)-pair volume.
    * Ranking is integer-deterministic — (tf desc, df asc, tok asc) — so
    * float idf noise can never reorder rows; the tfidf score itself is
    * informational output, rounded to 4.
    */
  def taTfidf: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val tf = docs.select(col("doc_id"),
      explode(graft.functions.TextExprs.tokTf(lower(trim(col("text"))))).as("p"))
      .select(col("doc_id"), col("p.tok").as("tok"), col("p.tf").as("tf"))
    val dfreq = tf.select(col("tok")).groupBy(col("tok"))
      .agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(countDistinct(col("doc_id")).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("tok").asc)
    tf.join(dfreq, "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("doc_id"), col("tok"), col("tf"), col("df"),
        bround(col("tf") * log((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))), 4)
          .as("tfidf"),
        col("rn"))
  }

  /** ta_index_delta — incremental inverted-index / df-table maintenance:
    * the per-batch job a production corpus index runs BETWEEN full
    * rebuilds (the [[DedupQueries.ddIncremental]] model applied to the
    * ta_* family). The standing index covers the even doc_ids; the
    * arriving batch is the odd ones. Output is the index WRITE SET: one
    * row per term the batch TOUCHES — (tok, old_df, delta_df, new_df,
    * old_tf, delta_tf, new_tf, is_new_term) — never the full
    * vocabulary, so output is bounded by the batch's distinct-term
    * count, independent of index size.
    *
    * Plan: ONE pass over the corpus token stream, parity split INSIDE
    * the aggregate (two conditional sums per measure), one vocab-keyed
    * exchange, then the touched-terms filter — no join and no second
    * scan. Both sides derive from the same corpus so engine and oracle
    * agree bit-for-bit.
    */
  def taIndexDelta: Q = (s, dir) => indexDeltaOf(
    tokTfStream(Tables.documents(s, dir))
      .withColumn("indexed", col("doc_id") % 2 === 0))

  /** The (doc_id, tok, tf) term stream of a (doc_id, text) frame — the
    * tf-idf/BM25/index tokenization, one compiled pass per document.
    */
  private[graft] def tokTfStream(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(graft.functions.TextExprs.tokTf(lower(trim(col("text"))))).as("p"))
      .select(col("doc_id"), col("p.tok").as("tok"), col("p.tf").as("tf"))

  /** The delta-aggregate core over a (tok, tf, indexed) term stream —
    * split out so the spec can drive arbitrary index/batch splits; see
    * [[taIndexDelta]].
    */
  private[graft] def indexDeltaOf(tf: DataFrame): DataFrame =
    tf.groupBy(col("tok"))
      .agg(
        sum(when(col("indexed"), 1L).otherwise(0L)).as("old_df"),
        sum(when(!col("indexed"), 1L).otherwise(0L)).as("delta_df"),
        sum(when(col("indexed"), col("tf")).otherwise(0L)).cast("long").as("old_tf"),
        sum(when(!col("indexed"), col("tf")).otherwise(0L)).cast("long").as("delta_tf"))
      .filter(col("delta_df") > 0)
      .select(col("tok"), col("old_df"), col("delta_df"),
        (col("old_df") + col("delta_df")).as("new_df"),
        col("old_tf"), col("delta_tf"),
        (col("old_tf") + col("delta_tf")).as("new_tf"),
        (col("old_df") === 0L).as("is_new_term"))

  /** Distinct-document frequency at or above which a chunk counts as
    * boilerplate ("this exact paragraph appears on ≥ 3 pages").
    */
  val BoilerDfMin = 3

  /** td_boilerplate — CCNet-style boilerplate stripping: any paragraph
    * (fixed 10-word chunk, the corpus convention of [[DedupQueries
    * .ddParaDedup]]) that appears in ≥ [[BoilerDfMin]] DISTINCT
    * documents is cut from EVERY document — nav bars, cookie banners,
    * license footers. The complement of dd_para_dedup's first-occurrence
    * keep: there the first copy survives, here none does, because a
    * chunk that common is template noise, not content.
    *
    * Scale: ONE chunk-hash shuffle carries the doc-frequency
    * computation — dense_rank-then-max over the same `para` window
    * partitioning (COUNT(DISTINCT) over a window, which engines reject,
    * recast as two window passes on one exchange; an aggregate + join
    * back would rescan the corpus — the dd_para_dedup note). Then one
    * doc_id shuffle reassembles, filtering INSIDE collect_list (a CASE
    * that nulls dropped chunks), so kept and dropped counts and the
    * rebuilt text all come from the same aggregate.
    */
  def tdBoilerplate: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val chunks = Tables.documents(s, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), posexplode(expr(
        """transform(sequence(0, cast(ceil(size(ws) / 10.0) as int) - 1),
          |          g -> array_join(slice(ws, g * 10 + 1, 10), ' '))""".stripMargin)))
      .withColumnsRenamed(Map("pos" -> "cid", "col" -> "para"))
    val wp = Window.partitionBy(col("para"))
    val marked = chunks
      .withColumn("dr", dense_rank().over(wp.orderBy(col("doc_id"))))
      .withColumn("df", max(col("dr")).over(wp))
    marked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df") >= BoilerDfMin, 1L).otherwise(0L)).as("n_boiler"),
        array_join(expr(
          s"""transform(array_sort(collect_list(
             |  CASE WHEN df < $BoilerDfMin THEN struct(cid, para) END)),
             |  x -> x.para)""".stripMargin), " ").as("text"))
  }

  /** td_clean_corpus — the composed training-data cleaning pass: quality
    * gate → language-ID agreement → exact dedup keeping the lowest doc_id
    * per fingerprint. One scan, one shuffle (the dedup groupBy); the
    * filters run map-side before it — the shape of a 100 TB corpus clean.
    */
  def tdCleanCorpus: Q = (s, dir) => {
    val nTok = wsTokens(col("text"))
    val nPunct = TextExprs.punctCount(col("text"))
    val nAlpha = TextExprs.alphaCount(col("text"))
    val quality = nTok >= 5 && nTok <= 10000 &&
      nPunct * 5 < length(col("text")) && nAlpha * 2 > length(col("text"))
    val Seq(en, es, de, fr) = langStopwords.map { case (_, words) =>
      TextExprs.wordSetCount(col("text"), words.split('|').toSeq)
    }
    val pred = when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
    val fp = Hashing.md5Long(regexp_replace(lower(trim(col("text"))), "\\s+", " "))
    Tables.documents(s, dir)
      .filter(quality && pred === col("lang"))
      .select(col("doc_id"), col("lang"), fp.as("fp_long"))
      .groupBy(col("fp_long"))
      .agg(min(col("doc_id")).as("doc_id"), min(col("lang")).as("lang"),
        count(lit(1)).as("n_dups"))
  }

  /** td_pipeline — the stages composed as ONE release pass, the way a
    * real corpus release runs them: quality/langid clean + keep-first
    * exact dedup ([[tdCleanCorpus]]) → benchmark decontamination
    * ([[decontaminate]], bloom-prefiltered) → per-source release
    * manifest (docs + whitespace tokens). Everything between the two
    * corpus scans (clean's and decontaminate's) is id-level anti/semi
    * joins — no stage rereads text it doesn't need, and each stage keeps
    * its own scale shape (map-side filters before the dedup shuffle,
    * sketch probe inside the gram scan).
    */
  def tdPipeline: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val survivors = tdCleanCorpus(s, dir).select(col("doc_id"))
    val flagged = decontaminate(docs, 8, col("doc_id") % 23 === 0)
    val release = survivors
      .join(flagged, Seq("doc_id"), "left_anti")
      .filter(pmod(col("doc_id"), lit(23)) =!= 0) // the benchmark itself never ships
    docs.join(release, Seq("doc_id"), "left_semi")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(wsTokens(col("text")).cast("long")).as("n_tokens"))
  }

  /** Benchmark decontamination core: training docs sharing any word
    * `n`-gram with the benchmark subset (`benchPred`). The scale path is
    * the runtime-filter pattern: a Bloom sketch of the benchmark's gram
    * hashes probes every training gram INSIDE the scan stage (native
    * `might_contain`, codegen'd like j8), so only candidate grams — a
    * sliver at 100 TB, where benchmark ≪ corpus — reach the exact
    * semi-join that removes Bloom false positives. Without the sketch,
    * every training gram would shuffle.
    *
    * The training-side probe pass never builds a gram STRING: grams of
    * whitespace-normalized text are substrings, so the compiled
    * [[TextExprs.wordGramHashes]] kernel hashes each gram's byte range
    * in place — bit-identical to `xxhash64(concat_ws(' ', slice(...)))`
    * (WordGramHashesSpec), which is exactly what the Bloom was built
    * over. Only the candidate docs that survive the sketch (true
    * overlaps plus the [[DecontFpp]]-sized false-candidate sliver)
    * re-derive real gram strings for the exact semi-join, turning the
    * dominant corpus-wide cost from allocate-and-concat into
    * hash-in-place.
    */
  /** The exploded word-`n`-gram frame (doc_id, gram) of a document
    * frame — the decontamination family's shared tokenization. */
  private def wordGramsOf(d: DataFrame, n: Int): DataFrame = {
    val toks = split(regexp_replace(lower(trim(col("text"))), "\\s+", " "), " ")
    d.select(col("doc_id"), toks.as("toks"))
      .withColumn("gram",
        explode(when(size(col("toks")) >= n, expr(
          s"transform(sequence(0, size(toks) - $n), i -> concat_ws(' ', slice(toks, i + 1, $n)))"))
          .otherwise(array().cast("array<string>"))))
      .select(col("doc_id"), col("gram"))
  }

  def decontaminate(docs: DataFrame, n: Int, benchPred: Column): DataFrame = {
    // the benchmark gram frame feeds BOTH the Bloom sketch and the exact
    // semi-join build — persist it so the benchmark side is tokenized
    // once, not twice; the count that materializes the cache also sizes
    // the Bloom, so the sketch keeps its fpp at any scale instead of
    // degrading toward 1 past a hard-coded capacity. Cached by input
    // identity: repeat invocations (bench reps, td_pipeline) reuse ONE
    // persisted entry instead of leaking one per call.
    val cacheKey = "decontaminate:" +
      docs.queryExecution.analyzed.semanticHash() + ":" + n + ":" +
      org.apache.spark.sql.graftbridge.Bridge.expression(benchPred).semanticHash()
    val bench = FrameCache.cached(docs.sparkSession, cacheKey)(
      wordGramsOf(docs.filter(benchPred), n).select(col("gram")).distinct())
    val benchGrams = bench.count()
    // empty benchmark -> nothing can be contaminated; also guards
    // stat.bloomFilter, which NPEs on an empty build side
    if (benchGrams == 0L)
      return docs.select(col("doc_id")).filter(lit(false)).distinct()
    // the serialized sketch is the other half of the one-time index
    // build: without caching it, every invocation re-aggregates the
    // benchmark grams to the driver just to rebuild identical bytes
    val bytes = FrameCache.cachedValue(docs.sparkSession, cacheKey) {
      val bloom = bench.select(xxhash64(col("gram")).as("h"))
        .stat.bloomFilter("h", benchGrams, DecontFpp)
      val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray
    }
    decontaminateProbe(docs, n, benchPred, bench, bytes)
  }

  /** Bloom fpp for the decontamination prefilter. The knob must be
    * sized for the per-DOCUMENT candidate rate, not per gram: a doc
    * carries ~hundreds of grams, so at the former 3% per-gram fpp a
    * clean 300-gram doc passed the filter with probability
    * 1 − 0.97³⁰⁰ ≈ 1 — EVERY doc became a "candidate" and the exact
    * verify exploded grams for the whole corpus (measured: the probe
    * face cost the same ~50 s as the full build at sf10). At 1e-5 the
    * per-doc false-candidate rate is ~0.3% while the sketch grows only
    * ln(.03)/ln(1e-5) ≈ 3.3× (bits/item scales with ln(1/fpp)) — still
    * megabytes at benchmark scale.
    */
  private val DecontFpp = 1e-5

  /** Probe + exact-verify core of [[decontaminate]] over an
    * ALREADY-BUILT benchmark gram index (the gram frame and the
    * serialized Bloom sketch) — the per-query work once the index
    * exists, shared by the session-cached path above and the durable
    * on-disk path ([[tdDecontaminateProbe]]).
    */
  private def decontaminateProbe(docs: DataFrame, n: Int, benchPred: Column,
                                 bench: DataFrame, bytes: Array[Byte]): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    def mightContain(h: Column): Column = Bridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.catalyst.expressions.Literal(bytes,
          org.apache.spark.sql.types.BinaryType),
        Bridge.expression(h)))
    // full-corpus pass: hash-in-place gram probe folded into an
    // `exists` over the hash array — one boolean per DOC, so the probe
    // stage has no explode, no per-gram rows, and no distinct shuffle
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val candidates = docs.filter(!benchPred)
      .filter(exists(TextExprs.wordGramHashes(norm, n), mightContain))
      .select(col("doc_id"))
    // exact verify: gram strings re-derived ONLY for the candidate docs
    // (the semi-join sits BELOW the explode, so non-candidates never
    // tokenize into strings at all)
    wordGramsOf(docs.filter(!benchPred).join(candidates, Seq("doc_id"), "left_semi"), n)
      .join(bench, Seq("gram"), "left_semi")
      .select(col("doc_id")).distinct()
  }

  /** td_decontaminate — test-set decontamination over `documents`:
    * every 23rd doc plays the held-out benchmark; training docs sharing
    * a word 8-gram with it are flagged for removal (the n-gram-overlap
    * rule training pipelines run before releasing a corpus).
    */
  def tdDecontaminate: Q = (s, dir) =>
    decontaminate(Tables.documents(s, dir), 8, col("doc_id") % 23 === 0)

  /** Durable on-disk benchmark-gram index for the decontamination
    * family — the dd_incremental index-table model taken to its
    * production conclusion: at 100 TB the benchmark gram table and its
    * Bloom sketch are corpus-version artifacts built ONCE and read by
    * every later job, not a per-session cache. The index is a
    * [[graft.sources.DurableIndex]] root keyed by corpus identity
    * (source content + n + predicate tag), so a rewritten corpus
    * rebuilds it and concurrent builders race safely.
    * Returns the index root containing `grams/` (parquet) and
    * `bloom.bin` (empty file ⟺ empty benchmark).
    */
  private[graft] def decontIndexRoot(s: SparkSession, dir: String, n: Int,
                                     predTag: String, benchPred: Column):
      java.nio.file.Path = {
    import java.nio.file.{Files, Paths}
    val src = Paths.get(dir).resolve("documents.parquet")
    // identity = hash of the contained part files' names+sizes+mtimes
    // (ContentIdent), not the directory's own metadata — an in-place
    // same-name rewrite must invalidate the index
    val ident = s"$src:${graft.sources.ContentIdent.of(src)}:$n:$predTag"
    graft.sources.DurableIndex.once("graft-decont-index", ident) { tmp =>
      val bench = wordGramsOf(
        Tables.documents(s, dir).filter(benchPred), n)
        .select(col("gram")).distinct()
      bench.write.mode("overwrite").parquet(tmp.resolve("grams").toString)
      // size the Bloom from the WRITTEN table (no second tokenize pass)
      val written = s.read.parquet(tmp.resolve("grams").toString)
      val benchGrams = written.count()
      val bytes =
        if (benchGrams == 0L) Array.emptyByteArray
        else {
          val bloom = written.select(xxhash64(col("gram")).as("h"))
            .stat.bloomFilter("h", benchGrams, DecontFpp)
          val b = new java.io.ByteArrayOutputStream(); bloom.writeTo(b); b.toByteArray
        }
      Files.write(tmp.resolve("bloom.bin"), bytes); ()
    }
  }

  /** td_decontaminate_probe — [[tdDecontaminate]] against the DURABLE
    * on-disk gram index: per-query cost is probe-only (one corpus scan
    * with the Bloom folded into it + the candidate-sliver verify),
    * the production shape where the index outlives the session. Same
    * output, same oracle, as the session-cached face.
    */
  def tdDecontaminateProbe: Q = (s, dir) => {
    val pred = col("doc_id") % 23 === 0
    val root = decontIndexRoot(s, dir, 8, "mod23", pred)
    val bytes = java.nio.file.Files.readAllBytes(root.resolve("bloom.bin"))
    val docs = Tables.documents(s, dir)
    if (bytes.isEmpty) docs.select(col("doc_id")).filter(lit(false)).distinct()
    else decontaminateProbe(docs, 8, pred,
      s.read.parquet(root.resolve("grams").toString), bytes)
  }

  /** ta_source_overlap — cross-source contamination matrix: for every
    * pair of corpus sources, the count of winnowing fingerprints they
    * share. Pair generation is fingerprint-bucketed — a self-join on
    * `fp` with an ordered-pair filter, never a source×source×doc cross
    * product — so the shuffle key carries the work and the biggest
    * group is the hottest shingle, not the corpus. This is the
    * "how much does crawl A overlap dataset B" report run before
    * choosing training-mixture weights.
    */
  def taSourceOverlap: Q = (s, dir) => {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val docs = Tables.documents(s, dir)
    // The source dimension is catalog-sized (which crawls/datasets feed
    // the corpus) — collect it once, like every broadcast-dim control
    // table. Each source gets a bit: one corpus pass then computes each
    // fingerprint's PRESENCE MASK with a fully codegen'd bit_or hash
    // aggregate (map-side combined — the shuffle carries one long per
    // distinct fp per partition), and the pair matrix falls out of the
    // tiny mask histogram. The previous form paid the winnow kernel
    // TWICE (both sides of a fp self-join) plus a distinct and a 4M×4M
    // sort-merge join at sf1 — 3.2 s; this form is one pass + two
    // small aggs — ~1 s. Falls back to the self-join form beyond 62
    // sources (mask width), where the histogram would stop compressing.
    // cached like every other driver-side control artifact: building
    // this query a second time (bench reps, plan sweeps) must not rerun
    // the source-catalog job. Typed cache — null/empty source names
    // round-trip exactly as the uncached collect would produce them.
    val sources: Array[String] =
      FrameCache.cachedValue(s, s"ta_sources:$dir") {
        docs.select(col("source")).distinct().orderBy(col("source"))
          .collect().map(_.getString(0))
      }
    if (sources.length > 62) {
      val fps = docs
        .select(col("source"), explode(TextExprs.winnowFingerprints(norm)).as("fp"))
        .distinct()
      fps.toDF("source_a", "fp")
        .join(fps.toDF("source_b", "fp"), Seq("fp"))
        .filter(col("source_a") < col("source_b"))
        .groupBy(col("source_a"), col("source_b"))
        .agg(count(lit(1)).as("shared_fps"))
    } else {
      val srcMap = map(sources.zipWithIndex
        .flatMap { case (src, i) => Seq(lit(src), lit(i)) }: _*)
      val maskHist = docs
        .select(call_function("shiftleft", lit(1L), element_at(srcMap, col("source"))).as("bit"),
          explode(TextExprs.winnowFingerprints(norm)).as("fp"))
        .groupBy(col("fp")).agg(bit_or(col("bit")).as("mask"))
        .groupBy(col("mask")).agg(count(lit(1)).as("n_fps"))
      // expand each mask's set-bit pairs (≤ C(62,2) rows per mask, and
      // the histogram itself is ≤ distinct observed masks — tiny)
      val bits = expr("filter(sequence(0, 61), b -> ((mask >> b) & 1) = 1)")
      val srcArr = array(sources.map(lit): _*)
      maskHist
        .select(col("n_fps"), col("mask"), explode(bits).as("ba"))
        .select(col("n_fps"), col("ba"), explode(bits).as("bb"))
        .filter(col("ba") < col("bb"))
        .groupBy(col("ba"), col("bb"))
        .agg(sum(col("n_fps")).as("shared_fps"))
        .select(element_at(srcArr, col("ba") + 1).as("source_a"),
          element_at(srcArr, col("bb") + 1).as("source_b"), col("shared_fps"))
    }
  }

  /** Mixture temperature for td_domain_mix (the multilingual-sampling /
    * DoReMi-style α: raw token share p^α, renormalized — α<1 upsamples
    * small domains).
    */
  val MixAlpha = 0.3

  /** td_domain_mix — per-source corpus shares and temperature-scaled
    * sampling weights: the mixture table a training run reads to decide
    * how often to draw from each domain. One aggregation over the corpus
    * (map-side combined count + compiled token-count sum), then the
    * normalizations run as windows over the already-aggregated
    * k-domain frame — the "empty partition" window is deliberate and
    * safe: by then the frame has one row per domain, not per document.
    */
  def tdDomainMix: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    Tables.documents(s, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(wsTokens(col("text")).cast("long")).as("n_tokens"))
      .withColumn("p_tok", col("n_tokens").cast("double") / sum(col("n_tokens")).over(w).cast("double"))
      .withColumn("sa", pow(col("p_tok"), MixAlpha))
      .withColumn("mix_weight", round(col("sa") / sum(col("sa")).over(w), 6))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("p_tok"), 6).as("p_tok"), col("mix_weight"))
  }

  /** Cell budget for ta_kl_drift: drift is measured over the top-V
    * corpus tokens plus one lumped OTHER cell, the standard bounded-
    * vocabulary drift monitor (an unbounded per-token KL would need a
    * dense source × vocabulary grid — unbounded at corpus scale).
    */
  val KlTopV = 200

  /** ta_kl_drift — per-source distribution drift: add-one-smoothed KL
    * divergence D(P_source ‖ P_corpus) over the top-[[KlTopV]]-token
    * cells (+ OTHER), the monitor that catches a domain whose token
    * distribution has shifted from the corpus mix (contamination, crawl
    * rot, template floods).
    *
    * Scale: the only corpus-sized work is the shared token stream and
    * two bounded aggregations over it (top-V via agg + TakeOrdered;
    * per-(source, cell) counts after a BROADCAST membership join against
    * the V-token list — the stream never shuffles by token twice). The
    * smoothing grid is k_sources × (V+1) rows; every window below runs
    * on that tiny frame.
    */
  def taKlDrift: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val toks = cachedToks(s, dir).select(col("source"), col("tok"))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc).limit(KlTopV)
      .select(col("tok"), lit(1).as("hit"))
    val cells = toks.join(broadcast(top), Seq("tok"), "left")
      .select(col("source"),
        when(col("hit").isNotNull, col("tok")).otherwise(lit("__other__")).as("cell"))
    val srcCell = cells.groupBy(col("source"), col("cell")).agg(count(lit(1)).as("c"))
    val corpCell = cells.groupBy(col("cell")).agg(count(lit(1)).as("c_all"))
    val srcTot = srcCell.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val ws = Window.partitionBy(col("source"))
    val pS = (col("c") + 1).cast("double") / (col("n_s") + col("v_cells")).cast("double")
    val pC = (col("c_all") + 1).cast("double") / (col("n_all") + col("v_cells")).cast("double")
    srcTot.crossJoin(broadcast(corpCell))
      .join(srcCell, Seq("source", "cell"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .withColumn("v_cells", count(lit(1)).over(ws))
      .withColumn("n_all", sum(col("c_all")).over(ws))
      .withColumn("term", pS * log(pS / pC))
      .groupBy(col("source"))
      .agg(max(col("n_s")).as("n_toks"), round(sum(col("term")), 6).as("kl_vs_corpus"))
  }

  /** Context-window chunking parameters: window width and stride in
    * tokens (overlap = [[ChunkWindow]] − [[ChunkStride]]).
    */
  val ChunkWindow = 128L
  val ChunkStride = 96L

  /** td_winsorize — per-source outlier clamping of document length (the
    * winsorization pass corpus pipelines run before length-based mixture
    * weighting, so one 500 MB crawl artifact can't dominate a source's
    * token budget): per source, the exact P1/P99 length cutoffs by the
    * nearest-rank rule k = ⌊(n−1)·p/100⌋ + 1, then every doc's length
    * clamps into [p01, p99].
    *
    * Scale: documents are never sorted — the percentile is read off the
    * (source, n_chars) HISTOGRAM (one shuffle; rows = distinct lengths
    * per source, bounded by the length domain, not the corpus), the
    * cumulative rank is a window over that histogram, and clamp counts
    * and the winsorized total are Σ c·clamp(len) over the same frame —
    * no second corpus scan, all integer arithmetic.
    */
  def tdWinsorize: Q = (s, dir) => winsorizeOf(Tables.documents(s, dir))

  /** The winsorize core over any (source, n_chars) frame — split out so
    * the spec can drive constructed length profiles; see [[tdWinsorize]].
    */
  private[graft] def winsorizeOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy(col("source")).orderBy(col("n_chars"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("source"))
    docs
      .groupBy(col("source"), col("n_chars")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(wCum))
      .withColumn("n", sum(col("c")).over(wAll))
      .withColumn("k_lo", expr("(n - 1) div 100 + 1"))
      .withColumn("k_hi", expr("((n - 1) * 99) div 100 + 1"))
      .withColumn("p01",
        min(when(col("cum") >= col("k_lo"), col("n_chars"))).over(wAll))
      .withColumn("p99",
        min(when(col("cum") >= col("k_hi"), col("n_chars"))).over(wAll))
      .groupBy(col("source"))
      .agg(max(col("p01")).as("p01"), max(col("p99")).as("p99"),
        coalesce(sum(when(col("n_chars") < col("p01"), col("c"))), lit(0L))
          .as("n_low"),
        coalesce(sum(when(col("n_chars") > col("p99"), col("c"))), lit(0L))
          .as("n_high"),
        sum(col("c") * greatest(col("p01"), least(col("p99"), col("n_chars"))))
          .as("sum_winsorized"),
        sum(col("c")).as("n_docs"))
  }

  /** ta_keyness — distinctive vocabulary per source: the top-10 tokens
    * whose in-source rate most exceeds their rest-of-corpus rate
    * (relative-rate ratio in integer micros, +1-smoothed on the
    * complement count so a source-exclusive token is finite), with a
    * min-count floor of 5 so one-off strings can't top the list. The
    * "what makes crawl A read differently from the rest" report that
    * drives source weighting and contamination triage — the per-token
    * complement of [[taKlDrift]]'s whole-distribution number.
    *
    * Scale: one (source, tok) count shuffle off the shared token scan;
    * the token's corpus total is a window over the tok partition of
    * that vocab×source-sized frame (frame height ≤ |sources|, never
    * corpus-sized); source totals and N ride the same frame via a
    * source-partition window (frame ≤ the source's vocab). The ratio is
    * DECIMAL(38,0) cross-multiplication with integral `div` — exact in
    * both engines at any corpus size (10⁶·a·rest ≤ 10⁶·N² needs ~2·
    * log₁₀N+6 digits: fine through N = 10¹⁵ tokens).
    */
  def taKeyness: Q = (s, dir) => {
    // the corpus token count is one bounded scalar, cached per
    // (session, sf) like every other control artifact (g_trade_n
    // pattern) — a count over the PERSISTED token frame, so no second
    // tokenize pass and no global window in the query plan
    val nAll = FrameCache.cachedValue(s, s"ta_n_tokens:$dir")(
      cachedToks(s, dir).count())
    keynessOf(cachedToks(s, dir), nAll)
  }

  /** The keyness core over any (source, tok) stream and its total count
    * — split out so the spec can drive constructed corpora; see
    * [[taKeyness]].
    */
  private[graft] def keynessOf(toks: DataFrame, nAll: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = toks
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("a"))
    val wTok = Window.partitionBy(col("tok"))
    val wSrc = Window.partitionBy(col("source"))
    val wRank = Window.partitionBy(col("source"))
      .orderBy(col("ratio_micro").desc, col("tok").asc)
    counts
      .withColumn("tok_total", sum(col("a")).over(wTok))
      .withColumn("src_total", sum(col("a")).over(wSrc))
      .withColumn("n_all", lit(nAll))
      .filter(col("a") >= 5)
      .withColumn("ratio_micro", expr(
        """(CAST(1000000 AS DECIMAL(38,0)) * a * (n_all - src_total))
           div (CAST(tok_total - a + 1 AS DECIMAL(38,0)) * src_total)"""))
      .withColumn("rn", row_number().over(wRank))
      .filter(col("rn") <= 10)
      .select(col("source"), col("rn").cast("long").as("rn"), col("tok"),
        col("a").as("n_in_source"),
        (col("tok_total") - col("a")).as("n_elsewhere"),
        col("ratio_micro").cast("long").as("ratio_micro"))
  }

  /** td_chunk — context-length document chunking (the batch-prep op
    * that slices long documents into overlapping model-context windows
    * before packing): each document with n tokens yields chunks at
    * starts 0, stride, 2·stride, …, each spanning min(window, n−start)
    * tokens; a trailing start that would only re-cover already-chunked
    * tokens is dropped (kept iff start < n − window + stride), so every
    * token is covered exactly once beyond the designed overlap and no
    * degenerate tail chunks appear.
    *
    * All arithmetic is integer token offsets derived from the compiled
    * token count — the chunk table never materializes token arrays, so
    * the op is a zero-shuffle map over the corpus scan: at 100 TB it
    * emits (doc, start, end) plans for a downstream slicer at scan
    * throughput.
    */
  def tdChunk: Q = (s, dir) => chunkSpans(Tables.documents(s, dir))

  /** The chunk planner over any (doc_id, text) frame — see [[tdChunk]]. */
  private[graft] def chunkSpans(docs: DataFrame): DataFrame = {
    docs
      .select(col("doc_id"), wsTokens(col("text")).cast("long").as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(0L), col("n") - 1, lit(ChunkStride))).as("s"))
      .filter(col("s") === 0 || col("s") < col("n") - ChunkWindow + ChunkStride)
      .select(col("doc_id"),
        (col("s") / ChunkStride).cast("long").as("chunk_id"),
        col("s").as("tok_start"),
        least(col("s") + ChunkWindow, col("n")).as("tok_end"),
        (least(col("s") + ChunkWindow, col("n")) - col("s")).as("n_toks"))
  }

  /** How many top merge candidates ta_bpe_pairs reports. */
  val BpeTopPairs = 32

  /** ta_bpe_pairs — the counting step of BPE tokenizer training
    * (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
    * with Subword Units"): adjacent-symbol pair frequencies over the
    * corpus vocabulary, each pair weighted by its word's corpus
    * frequency; the top pair is the next merge a BPE learner would
    * take. Reported: the top [[BpeTopPairs]] candidates by (count,
    * pair).
    *
    * Scale is the point: the corpus contributes ONE vocabulary
    * aggregation (map-side combined on the shared token stream); pair
    * explosion and counting then run over the VOCAB table — bounded by
    * distinct words × word length, independent of corpus size. This is
    * why real BPE trainers count on the word-frequency table, never the
    * raw corpus; the plan makes that shape explicit. One round is
    * SQL-expressible and carries the oracle.
    */
  def taBpePairs: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    cachedToks(s, dir)
      .groupBy(col("tok")).agg(count(lit(1)).as("f"))
      .filter(length(col("tok")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))")).as("pair"))
      .groupBy(col("pair")).agg(sum(col("f")).cast("long").as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc).limit(BpeTopPairs)
      // a deliberate global window: its input is the BpeTopPairs rows the
      // limit keeps (Spark still logs `WindowExec: No Partition Defined`)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("cnt").desc, col("pair").asc)))
  }

  /** ta_bigram_lm — bigram language-model scoring (the CCNet-style
    * quality filter one order up from [[taUnigramLp]]): per-document
    * mean log P(w_i | w_{i-1}) under the corpus bigram distribution
    * with add-one smoothing over the unigram vocabulary, the standard
    * fluency proxy that separates natural prose from shuffled-token
    * noise the unigram score cannot see.
    *
    * Scale: the bigram stream is materialized once (FrameCache) and
    * read twice (count table + scoring join) — the same two-pass shape
    * as the exact heavy hitters. Both shuffles key on bounded sets
    * (distinct bigrams; doc_id). The context-count table `c1` is NOT a
    * second join: it is derivable from `c2` (c1(v) = Σ_w c2(v,w)), so a
    * `v`-partitioned window over the aggregated `c2` frame computes it
    * in place — the sql_tpch_q20 derived-aggregate trick — and the
    * scoring join touches the token-volume bigram stream exactly once,
    * on (v,w), UNHINTED. Both c2 and c1 are bigram-VOCABULARY-sized
    * frames that grow with the corpus, so a forced broadcast() here
    * would OOM the driver at web scale (the ta_tfidf rule). Like
    * [[taUnigramLp]]'s freq table, the c2+c1 model table is a
    * MATERIALIZED FrameCache artifact: the planner reads its true size
    * and the initial plan broadcasts below the threshold (no stream
    * exchange) or honestly shuffle-joins above it. Only the 1-row
    * vocab scalar keeps its hint.
    */
  def taBigramLm: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val bi = cachedBigrams(s, dir)
    val c2 = FrameCache.cached(s, s"ta_bigram_c2:$dir")(
      bi.groupBy(col("v"), col("w")).agg(count(lit(1)).as("c2"))
        .withColumn("c1", sum(col("c2")).over(Window.partitionBy(col("v")))))
    FrameCache.cachedValue(s, s"ta_bigram_c2_n:$dir")(c2.count())
    // |V| is the unigram vocabulary cardinality — an exact integer the
    // session already holds as an index-sizing count, embedded as a
    // literal instead of a countDistinct that re-scanned the whole
    // token stream on every run (one full corpus pass per invocation)
    val vsz = FrameCache.cachedValue(s, s"ta_vocab_n:$dir")(
      cachedToks(s, dir).select(col("tok")).distinct().count())
    bi.join(c2, Seq("v", "w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        bround(avg(log((col("c2") + 1).cast("double") /
          (col("c1") + lit(vsz.toDouble)))), 6)
          .as("avg_lp"))
  }

  /** Worst-per-source quarantine size for [[taFluencyOutliers]]. */
  val FluencyK = 16

  /** ta_fluency_outliers — per-source disfluency quarantine: the
    * [[FluencyK]] WORST-scoring documents of every source under the
    * [[taBigramLm]] bigram fluency model, ranked ascending with a
    * doc_id tie-break. The review queue a corpus-quality pass emits:
    * bounded (K × sources) rows pointing at the docs most likely to be
    * boilerplate, encoding damage, or non-text — the rank-based twin of
    * a drop-bottom-quantile filter whose CUTOFF VALUE would hang on
    * float-interpolated percentile semantics no two engines share.
    *
    * Scale: the scored frame reuses the bigram machinery (shared cached
    * bigram stream); the per-source bottom-K is a `row_number ≤ K`
    * window that Spark plans as WindowGroupLimit — a K-row heap per
    * task BEFORE the source shuffle, so the exchange carries at most
    * K × partitions × sources rows, never the corpus. No global sort
    * anywhere.
    */
  def taFluencyOutliers: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val scored = taBigramLm(s, dir).select(col("doc_id"), col("avg_lp"))
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    val w = Window.partitionBy(col("source")).orderBy(col("avg_lp"), col("doc_id"))
    scored.join(src, Seq("doc_id"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= FluencyK)
      .select(col("source"), col("doc_id"), col("avg_lp"),
        col("rank").cast("long").as("rank"))
  }

  /** The per-document adjacent-token-pair stream (doc_id, v, w),
    * persisted once per corpus — see [[taBigramLm]].
    */
  private def cachedBigrams(s: SparkSession, dir: String): DataFrame =
    FrameCache.cached(s, s"ta_bigrams_stream:$dir")(
      Tables.documents(s, dir)
        .select(col("doc_id"), TextExprs.wsSplit(lower(trim(col("text")))).as("a"))
        .filter(size(col("a")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, size(a) - 1), i -> struct(element_at(a, i) AS v, element_at(a, i + 1) AS w))")).as("p"))
        .select(col("doc_id"), col("p.v").as("v"), col("p.w").as("w")))

  /** Base acceptance rate for td_weighted_sample, and the integer hash
    * space the acceptance test runs in (2^20 buckets).
    */
  val WsRate = 0.1
  val WsBuckets = 1048576L

  /** td_weighted_sample — apply a temperature-scaled domain mixture as a
    * DETERMINISTIC per-document Bernoulli sample (the op that turns
    * [[tdDomainMix]]'s sampling table into an actual rebalanced corpus):
    * source s keeps each doc with probability min(1, rate/sqrt(p_s))
    * where p_s is s's token share — the α=0.5 temperature that boosts
    * small domains. Membership is an integer compare of a doc_id hash
    * against floor(p·2^20), never rand(): reproducible across runs,
    * engines, partitionings, and resumes.
    *
    * Cross-engine exactness is by construction, not luck: p_s is one
    * division of two exact integer sums, and /, sqrt, and × are all
    * IEEE-754 correctly-rounded single operations — every engine gets
    * the bit-identical double, hence the identical floor threshold.
    * (pow(x, α) for general α carries no such guarantee, which is why
    * the α here is the sqrt temperature and not [[MixAlpha]].)
    *
    * Scale: first pass aggregates per-source token counts (map-side
    * combined, k-row result); the rates table broadcasts back onto the
    * corpus scan where the acceptance test runs map-side; the summary
    * agg is the only other shuffle. At 100 TB the rates frame is
    * catalog-sized and the kept corpus streams straight to its sink.
    */
  def tdWeightedSample: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    // the rates frame is catalog-sized (one row per source), so it
    // follows the control-table pattern: ONE corpus aggregation,
    // collected, and re-entered as a literal frame — re-joining the
    // unpersisted aggregate would re-run the corpus tokenization pass
    // for the final report join (3 scans instead of 2)
    val rateRows = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(wsTokens(col("text")).cast("long")).as("n_tok"))
      .collect()
    val total = rateRows.map(_.getLong(2)).sum.toDouble
    import s.implicits._
    val rates = rateRows.toSeq.map { r =>
      val pKeep = math.min(1.0, WsRate / math.sqrt(r.getLong(2) / total))
      (r.getString(0), r.getLong(1), math.floor(pKeep * WsBuckets).toLong, pKeep)
    }.toDF("source", "n_docs", "thr", "p_keep")
    val kept = docs
      .join(broadcast(rates.select(col("source"), col("thr"))), Seq("source"))
      .filter(pmod(Hashing.md5LongSeeded(11, col("doc_id").cast("string")),
        lit(WsBuckets)) < col("thr"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("doc_id")).cast("long").as("sum_ids"))
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("n_docs"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("sum_ids"), lit(0L)).as("sum_ids"),
        round(col("p_keep"), 6).as("p_keep"))
  }

  /** Feature-hashing dimensionality for ta_doc_embed. */
  val HashDim = 16

  /** ta_doc_embed — hashing-trick document vectors (Weinberger et al.
    * 2009: the signed feature hash that gives every doc a fixed-width
    * bag-of-words vector with no vocabulary table — the zero-training
    * featurizer used for cheap clustering/classification before any
    * model embedding exists). Bucket = h mod [[HashDim]], sign = one
    * hash bit; each component is an INTEGER sum of ±1 per token
    * occurrence, so the vector is exact in any engine. The whole
    * featurizer is ONE compiled map call per document
    * ([[TextExprs.docVecHash]]: byte scan → seeded md5Long60 per token
    * → ±1 into h mod dim) — zero shuffle, zero token stream. The
    * earlier explode → 16-conditional-aggregate form moved the full
    * token stream through a doc_id exchange and measured 3.0 s at sf1
    * for what is a per-row projection; PropertiesSpec pins the kernel
    * ≡ that pipeline on generated whitespace-adversarial text.
    */
  def taDocEmbed: Q = (s, dir) =>
    Tables.documents(s, dir)
      .select(col("doc_id"),
        TextExprs.docVecHash(lower(trim(col("text"))), HashDim, 17).as("v"))
      .select(col("doc_id"),
        concat_ws(",", (0 until HashDim).map(i =>
          col("v").getItem(i).cast("string")): _*).as("vec"))

  /** Upsampling base rate for td_upsample: source s replicates each doc
    * f_s = [[UpRate]]/sqrt(p_s) times (fractional part by hash).
    */
  val UpRate = 0.5

  /** td_upsample — epoch-replication upsampling (the other half of the
    * mixture knob: [[tdWeightedSample]] downsamples by dropping,
    * this REPLICATES small domains > 1× as DoReMi/multilingual recipes
    * do when a domain's mixture weight exceeds its natural share). Each
    * doc in source s emits copy indices 0..⌈f_s⌉−1; whole copies below
    * ⌊f_s⌋ always survive, the fractional last copy survives iff
    * hash(seed:copy:doc) clears floor(frac·2^20) — deterministic
    * per (doc, copy), so re-runs and engines agree bit for bit (f_s
    * uses the sqrt temperature: /, sqrt, ×, floor are all IEEE
    * correctly-rounded single ops, the [[tdWeightedSample]] argument).
    *
    * Scale: rates are one map-side-combined aggregation broadcast onto
    * the corpus scan; the explode multiplies rows by ⌈f⌉ (bounded by
    * the mixture cap, here ≤ ~⌈[[UpRate]]/sqrt(p_min)⌉) map-side, and
    * the summary agg is the only other shuffle.
    */
  def tdUpsample: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(s, dir)
    val rates = docs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(wsTokens(col("text")).cast("long")).as("n_tok"))
      .withColumn("f", lit(UpRate) /
        sqrt(col("n_tok").cast("double") /
          sum(col("n_tok")).over(Window.partitionBy()).cast("double")))
      .withColumn("whole", floor(col("f")))
      .withColumn("thr", floor((col("f") - floor(col("f"))) * lit(WsBuckets.toDouble)))
    docs.select(col("source"), col("doc_id"))
      .join(broadcast(rates.select(col("source"), col("n_docs"), col("whole"), col("thr"))),
        Seq("source"))
      .select(col("source"), col("n_docs"), col("doc_id"), col("whole"), col("thr"),
        explode(sequence(lit(0L), col("whole"))).as("rep"))
      .filter(col("rep") < col("whole") ||
        pmod(Hashing.md5LongSeeded(13,
          concat_ws(":", col("rep"), col("doc_id"))), lit(WsBuckets)) < col("thr"))
      .groupBy(col("source"))
      .agg(max(col("n_docs")).as("n_docs"),
        count(lit(1)).as("n_out"),
        sum(col("doc_id") * (col("rep") + 1)).cast("long").as("checksum"))
  }

  /** Minimum document frequency for a token to enter the inverted
    * index, and the posting-list prefix length the report keeps.
    */
  val InvMinDf = 25L
  val InvPostings = 16

  /** ta_inverted_index — posting-list construction (the retrieval /
    * source-attribution index over the corpus): for every index term
    * with document frequency ≥ [[InvMinDf]], its df, total term
    * frequency, and the first [[InvPostings]] doc ids of its sorted
    * posting list. Two shuffles, both keyed on bounded sets: the
    * (token, doc) pre-aggregate collapses each document's repeats
    * map-side before anything moves, and the posting-list agg then
    * handles one row per distinct (token, doc) pair — the classic
    * two-level distributed index build. r12: the first level (per-doc
    * repeat collapse) moved into the scan — [[graft.functions.TextExprs
    * .tokTf]] emits each document's (tok, tf) pairs directly
    * (equivalence spec: TextExprsSpec), so the single surviving shuffle is
    * the posting-list aggregate over distinct (token, doc) pairs; the
    * exploded token stream never exists. The df filter is a HAVING on
    * that agg. The posting prefix itself is a BOUNDED k-heap aggregate
    * ([[graft.functions.TopKAgg]] under (−doc_id DESC, doc_id ASC) ==
    * the [[InvPostings]] smallest doc ids): the
    * `slice(sort_array(collect_list(doc_id)))` form it replaced
    * collected and sorted the FULL posting list per token before
    * truncating — for stop-word-class tokens df ≈ corpus size, an
    * unbounded per-group state that is exactly the shape that dies at
    * 100 TB, and measured as the dominant cost of the whole query at
    * sf10 (29 s full vs 8 s for the same agg without postings; the
    * k-heap runs the full query at the agg's own cost). It also
    * composes with df/tf_total in the SAME single-pass aggregate, so
    * the map-side combine ships one bounded buffer per (partition,
    * token). A full index would stream complete lists to a sink
    * instead of truncating.
    */
  def taInvertedIndex: Q = (s, dir) => {
    // vocab-cardinality group key under a typed-imperative agg: raise
    // the object-hash-agg fallback valve (bounded k-heap states; see
    // TopKAgg.ensureHashAggCapacity — sort fallback measured 21 s vs
    // 8 s at sf10)
    graft.functions.TopKAgg.ensureHashAggCapacity(s)
    Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(graft.functions.TextExprs.tokTf(lower(trim(col("text"))))).as("p"))
      .select(col("doc_id"), col("p.tok").as("tok"), col("p.tf").as("tf"))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).cast("long").as("tf_total"),
        graft.functions.TopKAgg.topK(-col("doc_id"), col("doc_id"), InvPostings)
          .as("top"))
      .filter(col("df") >= InvMinDf)
      .select(col("tok"), col("df"), col("tf_total"),
        expr("array_join(transform(top, x -> cast(x.id AS STRING)), ',')")
          .as("postings"))
  }

  val queries: Map[String, Q] = Map(
    "ta_tokens" -> taTokens,
    "td_domain_mix" -> tdDomainMix,
    "td_weighted_sample" -> tdWeightedSample,
    "td_upsample" -> tdUpsample,
    "ta_inverted_index" -> taInvertedIndex,
    "ta_bpe_pairs" -> taBpePairs,
    "ta_bigram_lm" -> taBigramLm,
    "ta_fluency_outliers" -> taFluencyOutliers,
    "td_chunk" -> tdChunk,
    "ta_doc_embed" -> taDocEmbed,
    "ta_kl_drift" -> taKlDrift,
    "ta_source_overlap" -> taSourceOverlap,
    "td_decontaminate" -> tdDecontaminate,
    "td_decontaminate_probe" -> tdDecontaminateProbe,
    "ta_langid" -> taLangid,
    "ta_quality" -> taQuality,
    "ta_fingerprint" -> taFingerprint,
    "ta_winnow" -> taWinnow,
    "ta_ngram_novelty" -> taNgramNovelty,
    "ta_profile" -> taProfile,
    "ta_vocab" -> taVocab,
    "ta_keyness" -> taKeyness,
    "td_winsorize" -> tdWinsorize,
    "ta_cooccur" -> taCooccur,
    "ta_repetition" -> taRepetition,
    "ta_tfidf" -> taTfidf,
    "ta_index_delta" -> taIndexDelta,
    "td_redact" -> tdRedact,
    "td_split" -> tdSplit,
    "td_stratified_sample" -> tdStratifiedSample,
    "td_pack" -> tdPack,
    "ta_unigram_lp" -> taUnigramLp,
    "ta_bm25" -> taBm25,
    "ta_quality_model" -> taQualityModel,
    "ta_heavy_hitters" -> taHeavyHitters,
    "ta_heavy_hitters_exact" -> taHeavyHittersExact,
    "td_shuffle" -> tdShuffle,
    "td_curriculum" -> tdCurriculum,
    "td_clean_corpus" -> tdCleanCorpus,
    "td_boilerplate" -> tdBoilerplate,
    "td_pipeline" -> tdPipeline)

  private val duckLangScores = langStopwords.map { case (l, words) =>
    s"len(regexp_extract_all(lower(text), '\\b(?:$words)\\b')) AS s_$l"
  }.mkString(", ")

  /** The bigram-LM scoring chain (no leading WITH; ends in
    * `scored(doc_id, n_bigrams, avg_lp)`) — shared by the ta_bigram_lm
    * and ta_fluency_outliers oracles so the smoothing formula cannot
    * drift between them.
    */
  private val duckBigramScored: String =
    """docs AS (
      |  SELECT doc_id, regexp_extract_all(lower(trim(text)), '\S+') AS a
      |  FROM documents WHERE len(regexp_extract_all(lower(trim(text)), '\S+')) >= 2),
      |bi AS (
      |  SELECT doc_id, a[i] AS v, a[i + 1] AS w
      |  FROM (SELECT doc_id, a, unnest(generate_series(1, len(a) - 1)) AS i FROM docs)),
      |c2 AS (SELECT v, w, count(*) AS c2 FROM bi GROUP BY v, w),
      |c1 AS (SELECT v, sum(c2) AS c1 FROM c2 GROUP BY v),
      |vocab AS (
      |  SELECT count(DISTINCT tok)::DOUBLE AS vsz FROM (
      |    SELECT unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS tok
      |    FROM documents)),
      |scored AS (
      |  SELECT b.doc_id, count(*) AS n_bigrams,
      |    round(avg(ln((c2.c2 + 1)::DOUBLE / (c1.c1 + vocab.vsz))), 6) AS avg_lp
      |  FROM bi b JOIN c2 USING (v, w) JOIN c1 USING (v) CROSS JOIN vocab
      |  GROUP BY b.doc_id)""".stripMargin

  val oracle: Map[String, String] = Map(
    "td_winsorize" ->
      """WITH hist AS (
        |  SELECT source, n_chars, count(*) AS c FROM documents GROUP BY 1, 2),
        |r AS (
        |  SELECT source, n_chars, c,
        |    CAST(sum(c) OVER (PARTITION BY source ORDER BY n_chars
        |                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
        |    CAST(sum(c) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM hist),
        |r2 AS (
        |  SELECT *, (n - 1) // 100 + 1 AS k_lo,
        |         ((n - 1) * 99) // 100 + 1 AS k_hi FROM r),
        |r3 AS (
        |  SELECT *,
        |    min(CASE WHEN cum >= k_lo THEN n_chars END)
        |      OVER (PARTITION BY source) AS p01,
        |    min(CASE WHEN cum >= k_hi THEN n_chars END)
        |      OVER (PARTITION BY source) AS p99
        |  FROM r2)
        |SELECT source, max(p01) AS p01, max(p99) AS p99,
        |  CAST(coalesce(sum(CASE WHEN n_chars < p01 THEN c END), 0) AS BIGINT) AS n_low,
        |  CAST(coalesce(sum(CASE WHEN n_chars > p99 THEN c END), 0) AS BIGINT) AS n_high,
        |  CAST(sum(c * greatest(p01, least(p99, n_chars))) AS BIGINT) AS sum_winsorized,
        |  CAST(sum(c) AS BIGINT) AS n_docs
        |FROM r3 GROUP BY source""".stripMargin,
    "ta_keyness" ->
      """WITH toks AS (
        |  SELECT source, tok FROM (
        |    SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |    FROM documents)
        |  WHERE length(tok) > 0),
        |counts AS (SELECT source, tok, count(*) AS a FROM toks GROUP BY 1, 2),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_all FROM toks),
        |e AS (
        |  SELECT source, tok, a,
        |    CAST(sum(a) OVER (PARTITION BY tok) AS BIGINT) AS tok_total,
        |    CAST(sum(a) OVER (PARTITION BY source) AS BIGINT) AS src_total
        |  FROM counts),
        |r AS (
        |  SELECT source, tok, a, tok_total, src_total,
        |    (CAST(1000000 AS HUGEINT) * a * (n_all - src_total))
        |      // (CAST(tok_total - a + 1 AS HUGEINT) * src_total) AS ratio_micro
        |  FROM e, tot WHERE a >= 5),
        |rk AS (
        |  SELECT *, row_number() OVER (PARTITION BY source
        |    ORDER BY ratio_micro DESC, tok ASC) AS rn FROM r)
        |SELECT source, CAST(rn AS BIGINT) AS rn, tok, a AS n_in_source,
        |  tok_total - a AS n_elsewhere, CAST(ratio_micro AS BIGINT) AS ratio_micro
        |FROM rk WHERE rn <= 10""".stripMargin,
    "td_boilerplate" ->
      s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |gs AS (SELECT doc_id, ws,
        |         unnest(range(0, CAST(ceil(len(ws) / 10.0) AS INT))) AS cid FROM ws),
        |chunks AS (
        |  SELECT doc_id, cid,
        |         array_to_string(ws[cid * 10 + 1 : cid * 10 + 10], ' ') AS para
        |  FROM gs),
        |df AS (SELECT para, count(DISTINCT doc_id) AS df FROM chunks GROUP BY para)
        |SELECT c.doc_id, count(*)::BIGINT AS n_chunks,
        |  sum(CASE WHEN f.df >= $BoilerDfMin THEN 1 ELSE 0 END)::BIGINT AS n_boiler,
        |  coalesce(string_agg(CASE WHEN f.df < $BoilerDfMin THEN c.para END,
        |                      ' ' ORDER BY c.cid), '') AS text
        |FROM chunks c JOIN df f ON c.para = f.para
        |GROUP BY c.doc_id""".stripMargin,
    "ta_cooccur" ->
      s"""WITH n AS (SELECT count(*) AS nd FROM documents),
        |d AS (
        |  SELECT DISTINCT doc_id, tok FROM (
        |    SELECT doc_id,
        |      unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        |    FROM documents)),
        |f AS (
        |  SELECT tok, count(*)::BIGINT AS c FROM d GROUP BY tok
        |  HAVING count(*) >= (SELECT nd * $CoMinSupPct // 100 FROM n)),
        |p AS (
        |  SELECT a.tok AS tok_a, b.tok AS tok_b, count(*)::BIGINT AS n_docs
        |  FROM d a JOIN d b ON a.doc_id = b.doc_id AND a.tok < b.tok
        |  JOIN f fa ON a.tok = fa.tok JOIN f fb ON b.tok = fb.tok
        |  GROUP BY 1, 2
        |  HAVING count(*) >= (SELECT nd * $CoPairSupPct // 100 FROM n))
        |SELECT p.tok_a, p.tok_b, p.n_docs,
        |  ((1000000::HUGEINT * p.n_docs * (SELECT nd FROM n))
        |     // (fa.c::HUGEINT * fb.c))::BIGINT
        |    AS lift_micro
        |FROM p JOIN f fa ON p.tok_a = fa.tok
        |       JOIN f fb ON p.tok_b = fb.tok""".stripMargin,
    "ta_source_overlap" ->
      """WITH cp AS (
        |  SELECT doc_id, source,
        |    CASE WHEN length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) = 0 THEN []
        |         ELSE list_transform(
        |           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
        |           c -> unicode(c)::BIGINT) END AS cps
        |  FROM documents),
        |g AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(cps) = 0 THEN [0]
        |         WHEN len(cps) < 5 THEN [list_reduce(cps, (a, c) -> a * 131 + c) % 134217689]
        |         ELSE list_transform(generate_series(1, len(cps) - 4),
        |                i -> list_reduce(cps[i:i+4], (a, c) -> a * 131 + c) % 134217689)
        |    END AS gh
        |  FROM cp),
        |f AS (
        |  SELECT doc_id, source,
        |    CASE WHEN len(gh) <= 4 THEN [list_min(gh)]
        |         ELSE list_transform(generate_series(1, len(gh) - 3), i -> list_min(gh[i:i+3]))
        |    END AS fps
        |  FROM g),
        |fps AS (SELECT DISTINCT source, fp FROM (SELECT source, unnest(fps) AS fp FROM f))
        |SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared_fps
        |FROM fps a JOIN fps b ON a.fp = b.fp AND a.source < b.source
        |GROUP BY 1, 2""".stripMargin,
    "td_decontaminate" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS gram
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
        |  WHERE len(t) >= 8),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 23 = 0)
        |SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)
        |WHERE g.doc_id % 23 <> 0""".stripMargin,
    // the durable-index face produces the SAME flagged set — one oracle
    // text, two engine paths
    "td_decontaminate_probe" ->
      """WITH toks AS (
        |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS gram
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
        |  WHERE len(t) >= 8),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 23 = 0)
        |SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)
        |WHERE g.doc_id % 23 <> 0""".stripMargin,
    "td_domain_mix" ->
      s"""WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(regexp_extract_all(text, '\\S+'))) AS n_tokens
        |  FROM documents GROUP BY source),
        |p AS (
        |  SELECT source, n_docs, n_tokens,
        |    n_tokens::DOUBLE / (sum(n_tokens) OVER ())::DOUBLE AS p_tok
        |  FROM per),
        |pw AS (SELECT *, power(p_tok, $MixAlpha) AS sa FROM p)
        |SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
        |  round(p_tok, 6) AS p_tok,
        |  round(sa / sum(sa) OVER (), 6) AS mix_weight
        |FROM pw""".stripMargin,
    "td_weighted_sample" ->
      s"""WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(regexp_extract_all(text, '\\S+'))) AS n_tok
        |  FROM documents GROUP BY source),
        |rates AS (
        |  SELECT source, n_docs,
        |    least(1.0, $WsRate / sqrt(n_tok::DOUBLE / (sum(n_tok) OVER ())::DOUBLE)) AS p_keep
        |  FROM per),
        |kept AS (
        |  SELECT d.source, count(*) AS n_kept, sum(d.doc_id) AS sum_ids
        |  FROM documents d JOIN rates r USING (source)
        |  WHERE ${Hashing.duckMd5Long(11, "d.doc_id::VARCHAR")} % $WsBuckets
        |        < floor(r.p_keep * $WsBuckets.0)::BIGINT
        |  GROUP BY d.source)
        |SELECT r.source, r.n_docs,
        |  coalesce(k.n_kept, 0)::BIGINT AS n_kept,
        |  coalesce(k.sum_ids, 0)::BIGINT AS sum_ids,
        |  round(r.p_keep, 6) AS p_keep
        |FROM rates r LEFT JOIN kept k USING (source)""".stripMargin,
    "ta_doc_embed" -> {
      val comps = (0 until HashDim).map(i =>
        s"sum(CASE WHEN b = $i THEN sgn ELSE 0 END)::BIGINT").mkString(", ")
      val zeros = Seq.fill(HashDim)("0").mkString(",")
      // one row per DOCUMENT (a token-less doc is the zero vector) —
      // the kernel is a per-row featurizer, not a token-stream rollup
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '\\S+')) AS tok
        |  FROM documents),
        |hb AS (
        |  SELECT doc_id,
        |    ${Hashing.duckMd5Long(17, "tok")} % $HashDim AS b,
        |    1 - 2 * ((${Hashing.duckMd5Long(17, "tok")} >> 8) % 2) AS sgn
        |  FROM toks),
        |agg AS (
        |  SELECT doc_id, concat_ws(',', $comps) AS vec
        |  FROM hb GROUP BY doc_id)
        |SELECT d.doc_id, coalesce(agg.vec, '$zeros') AS vec
        |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id""".stripMargin
    },
    "td_upsample" ->
      s"""WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(regexp_extract_all(text, '\\S+'))) AS n_tok
        |  FROM documents GROUP BY source),
        |rates AS (
        |  SELECT source, n_docs,
        |    $UpRate / sqrt(n_tok::DOUBLE / (sum(n_tok) OVER ())::DOUBLE) AS f
        |  FROM per),
        |r2 AS (
        |  SELECT source, n_docs, floor(f)::BIGINT AS whole,
        |    floor((f - floor(f)) * $WsBuckets.0)::BIGINT AS thr
        |  FROM rates),
        |j AS (
        |  SELECT d.source, r.n_docs, d.doc_id, r.whole, r.thr
        |  FROM documents d JOIN r2 r USING (source)),
        |cand AS (
        |  SELECT source, n_docs, doc_id, whole, thr,
        |    unnest(generate_series(0, whole)) AS rep
        |  FROM j),
        |kept AS (
        |  SELECT * FROM cand WHERE rep < whole OR
        |    ${Hashing.duckMd5Long(13, "rep::VARCHAR || ':' || doc_id::VARCHAR")} % $WsBuckets < thr)
        |SELECT source, max(n_docs) AS n_docs, count(*)::BIGINT AS n_out,
        |  sum(doc_id * (rep + 1))::BIGINT AS checksum
        |FROM kept GROUP BY source""".stripMargin,
    "td_chunk" ->
      s"""WITH d AS (
        |  SELECT doc_id, len(regexp_extract_all(text, '\\S+'))::BIGINT AS n
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, n, unnest(generate_series(0, n - 1, $ChunkStride)) AS s
        |  FROM d WHERE n > 0)
        |SELECT doc_id, (s / $ChunkStride)::BIGINT AS chunk_id,
        |  s AS tok_start, least(s + $ChunkWindow, n) AS tok_end,
        |  least(s + $ChunkWindow, n) - s AS n_toks
        |FROM st WHERE s = 0 OR s < n - $ChunkWindow + $ChunkStride""".stripMargin,
    "ta_bpe_pairs" ->
      s"""WITH words AS (
        |  SELECT tok, count(*) AS f FROM (
        |    SELECT unnest(regexp_extract_all(lower(trim(text)), '\\S+')) AS tok
        |    FROM documents) GROUP BY tok),
        |pairs AS (
        |  SELECT substr(tok, i, 2) AS pair, f
        |  FROM (SELECT tok, f, unnest(generate_series(1, length(tok) - 1)) AS i
        |        FROM words WHERE length(tok) >= 2)),
        |agg AS (
        |  SELECT pair, sum(f)::BIGINT AS cnt FROM pairs GROUP BY pair
        |  ORDER BY cnt DESC, pair ASC LIMIT $BpeTopPairs)
        |SELECT pair, cnt,
        |  row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rank
        |FROM agg""".stripMargin,
    "ta_bigram_lm" ->
      s"""WITH $duckBigramScored
        |SELECT doc_id, n_bigrams, avg_lp FROM scored""".stripMargin,
    "ta_fluency_outliers" ->
      s"""WITH $duckBigramScored,
        |ranked AS (
        |  SELECT d.source, s.doc_id, s.avg_lp,
        |    row_number() OVER (PARTITION BY d.source
        |                       ORDER BY s.avg_lp, s.doc_id) AS rank
        |  FROM scored s JOIN documents d ON s.doc_id = d.doc_id)
        |SELECT source, doc_id, avg_lp, rank FROM ranked
        |WHERE rank <= $FluencyK""".stripMargin,
    "ta_inverted_index" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '\\S+')) AS tok
        |  FROM documents),
        |pair AS (SELECT tok, doc_id, count(*) AS tf FROM toks GROUP BY 1, 2)
        |SELECT tok, count(*) AS df, sum(tf)::BIGINT AS tf_total,
        |  array_to_string((list(doc_id ORDER BY doc_id))[1:$InvPostings], ',') AS postings
        |FROM pair GROUP BY tok HAVING count(*) >= $InvMinDf""".stripMargin,
    "ta_kl_drift" ->
      s"""WITH tf AS (
        |  SELECT source, tok FROM (
        |    SELECT source, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        |    FROM documents)
        |  WHERE length(tok) > 0),
        |top AS (SELECT tok FROM (
        |  SELECT tok, count(*) AS cnt FROM tf GROUP BY tok
        |  ORDER BY cnt DESC, tok ASC LIMIT $KlTopV)),
        |cells AS (
        |  SELECT tf.source,
        |    CASE WHEN top.tok IS NOT NULL THEN tf.tok ELSE '__other__' END AS cell
        |  FROM tf LEFT JOIN top ON tf.tok = top.tok),
        |src_cell AS (SELECT source, cell, count(*) AS c FROM cells GROUP BY 1, 2),
        |corp_cell AS (SELECT cell, count(*) AS c_all FROM cells GROUP BY 1),
        |src_tot AS (SELECT source, sum(c) AS n_s FROM src_cell GROUP BY 1),
        |j AS (
        |  SELECT g.source, g.n_s, g.cell, g.c_all, coalesce(sc.c, 0) AS c
        |  FROM (SELECT s.source, s.n_s, cc.cell, cc.c_all
        |        FROM src_tot s CROSS JOIN corp_cell cc) g
        |  LEFT JOIN src_cell sc ON g.source = sc.source AND g.cell = sc.cell),
        |s2 AS (
        |  SELECT source, n_s, c, c_all,
        |    count(*) OVER (PARTITION BY source) AS v_cells,
        |    sum(c_all) OVER (PARTITION BY source) AS n_all
        |  FROM j)
        |SELECT source, CAST(max(n_s) AS BIGINT) AS n_toks,
        |  round(sum(((c + 1)::DOUBLE / (n_s + v_cells)::DOUBLE)
        |          * ln(((c + 1)::DOUBLE / (n_s + v_cells)::DOUBLE)
        |              / ((c_all + 1)::DOUBLE / (n_all + v_cells)::DOUBLE))), 6) AS kl_vs_corpus
        |FROM s2 GROUP BY source""".stripMargin,
    "ta_tokens" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text, '\S+')) AS n_ws_tokens,
        | len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe_tokens,
        | length(text) AS n_chars_txt
        | FROM documents""".stripMargin,
    "ta_langid" ->
      s"""SELECT doc_id, lang, s_en, s_es, s_de, s_fr,
        | CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |      WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END AS pred_lang,
        | (CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |      WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |      WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END) = lang AS lang_match
        | FROM (SELECT doc_id, lang, text, $duckLangScores FROM documents)""".stripMargin,
    "ta_quality" ->
      """SELECT doc_id, length(text) AS n_chars_txt,
        | len(regexp_extract_all(text, '\S+')) AS n_tokens,
        | len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) AS n_punct,
        | len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|in|a|is)\b')) AS n_stopwords,
        | len(regexp_extract_all(text, '[a-zA-Z]')) AS n_alpha,
        | (len(regexp_extract_all(text, '\S+')) BETWEEN 5 AND 10000
        |  AND len(regexp_extract_all(text, '[^a-zA-Z0-9\s]')) * 5 < length(text)
        |  AND len(regexp_extract_all(text, '[a-zA-Z]')) * 2 > length(text)) AS is_quality
        | FROM documents""".stripMargin,
    "ta_quality_model" ->
      """WITH f AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(text, '\S+'))::DOUBLE AS n_tok,
        |    len(regexp_extract_all(lower(text), '\b(?:the|and|of|to|in|a|is)\b'))::DOUBLE AS n_stop,
        |    len(regexp_extract_all(text, '[^a-zA-Z0-9\s]'))::DOUBLE AS n_punct,
        |    len(regexp_extract_all(text, '[a-zA-Z]'))::DOUBLE AS n_alpha,
        |    length(text)::DOUBLE AS n_chars
        |  FROM documents)
        |SELECT doc_id,
        |  round(-2.4 + 4.0 * (n_stop / greatest(n_tok, 1.0))
        |      - 6.0 * (n_punct / greatest(n_chars, 1.0))
        |      + 2.5 * (n_alpha / greatest(n_chars, 1.0)), 6) AS quality_logit,
        |  (-2.4 + 4.0 * (n_stop / greatest(n_tok, 1.0))
        |      - 6.0 * (n_punct / greatest(n_chars, 1.0))
        |      + 2.5 * (n_alpha / greatest(n_chars, 1.0))) > 0 AS keep
        |FROM f""".stripMargin,
    "td_shuffle" ->
      """SELECT doc_id,
        |  row_number() OVER (ORDER BY md5(concat(7, ':', doc_id))) AS pos
        |FROM documents""".stripMargin,
    "td_curriculum" ->
      """WITH d AS (
        |  SELECT doc_id, len(regexp_extract_all(text, '\S+'))::BIGINT AS n_tokens
        |  FROM documents),
        |q AS (SELECT quantile_cont(n_tokens, [0.25, 0.5, 0.75]) AS qs FROM d)
        |SELECT doc_id, n_tokens,
        |  1 + CASE WHEN n_tokens > qs[1] THEN 1 ELSE 0 END
        |    + CASE WHEN n_tokens > qs[2] THEN 1 ELSE 0 END
        |    + CASE WHEN n_tokens > qs[3] THEN 1 ELSE 0 END AS phase
        |FROM d CROSS JOIN q""".stripMargin,
    "ta_fingerprint" ->
      """SELECT doc_id,
        | md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
        | ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 15))::BIGINT AS fp_long
        | FROM documents""".stripMargin,
    "ta_profile" ->
      """SELECT count(*) AS n_docs, count(DISTINCT lang) AS n_langs,
        | min(length(text)) AS min_len, max(length(text)) AS max_len,
        | CAST(sum(length(text)) AS BIGINT) AS sum_len,
        | CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS sum_tokens,
        | round(quantile_cont(length(text), 0.5), 6) AS median_len,
        | round(quantile_cont(length(text), 0.9), 6) AS p90_len
        | FROM documents""".stripMargin,
    "ta_vocab" ->
      """SELECT tok, count(*) AS freq FROM (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |  FROM documents)
        | WHERE length(tok) > 0
        | GROUP BY 1 ORDER BY freq DESC, tok ASC LIMIT 100""".stripMargin,
    "ta_heavy_hitters_exact" ->
      """WITH toks AS (
        |  SELECT source, tok FROM (
        |    SELECT source, unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |    FROM documents)
        |  WHERE length(tok) > 0),
        |tot AS (SELECT source, count(*) AS n FROM toks GROUP BY source),
        |cnt AS (SELECT source, tok, count(*) AS cnt FROM toks GROUP BY source, tok)
        |SELECT c.source, c.tok AS item, c.cnt
        |FROM cnt c JOIN tot t ON c.source = t.source
        |WHERE c.cnt * 64 > t.n""".stripMargin,
    "ta_repetition" ->
      """WITH toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |      t -> length(t) > 0) AS tk
        |  FROM documents),
        |word AS (
        |  SELECT doc_id, tok, count(*) AS c
        |  FROM (SELECT doc_id, unnest(tk) AS tok FROM toks) GROUP BY 1, 2),
        |ws AS (
        |  SELECT doc_id, max(c) AS max_tok_freq, count(*) AS n_distinct_tok
        |  FROM word GROUP BY 1),
        |bg AS (
        |  SELECT doc_id, len(tk) AS n_tok,
        |    CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
        |         ELSE list_transform(generate_series(1, len(tk) - 1),
        |                i -> tk[i] || ' ' || tk[i+1]) END AS bgs
        |  FROM toks),
        |bs AS (
        |  SELECT doc_id, n_tok, len(bgs) AS n_bigrams,
        |    len(list_distinct(bgs)) AS n_distinct_bigrams
        |  FROM bg)
        |SELECT bs.doc_id, n_tok, n_distinct_tok, max_tok_freq,
        |  n_bigrams, n_distinct_bigrams,
        |  (max_tok_freq * 5 > n_tok
        |   OR (n_bigrams - n_distinct_bigrams) * 4 > n_bigrams) AS is_repetitive
        |FROM bs JOIN ws ON bs.doc_id = ws.doc_id""".stripMargin,
    "ta_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    t -> length(t) > 0)) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
        |SELECT doc_id, tok, tf, df,
        |  round(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf, rn
        |FROM (
        |  SELECT doc_id, tok, tf, df, n_docs,
        |    row_number() OVER (PARTITION BY doc_id
        |      ORDER BY tf DESC, df ASC, tok ASC) AS rn
        |  FROM tf JOIN df USING (tok) CROSS JOIN n)
        |WHERE rn <= 3""".stripMargin,
    "ta_index_delta" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(list_filter(
        |    string_split_regex(lower(trim(text)), '\s+'),
        |    t -> length(t) > 0)) AS tok
        |  FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |agg AS (
        |  SELECT tok,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS old_df,
        |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS delta_df,
        |    CAST(sum(CASE WHEN doc_id % 2 = 0 THEN tf ELSE 0 END) AS BIGINT) AS old_tf,
        |    CAST(sum(CASE WHEN doc_id % 2 = 1 THEN tf ELSE 0 END) AS BIGINT) AS delta_tf
        |  FROM tf GROUP BY tok)
        |SELECT tok, old_df, delta_df, old_df + delta_df AS new_df,
        |  old_tf, delta_tf, old_tf + delta_tf AS new_tf,
        |  old_df = 0 AS is_new_term
        |FROM agg WHERE delta_df > 0""".stripMargin,
    "td_redact" ->
      """SELECT doc_id,
        | len(regexp_extract_all(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}')) AS n_emails,
        | regexp_replace(
        |   regexp_replace(
        |     regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}', '<EMAIL>', 'g'),
        |     '\+?[0-9]{1,3}[- .][0-9]{3}[- .][0-9]{3,4}[- .]?[0-9]{0,4}', '<PHONE>', 'g'),
        |   '[0-9]{9,}', '<NUM>', 'g') AS clean_text
        | FROM documents""".stripMargin,
    "td_pack" ->
      """WITH t AS (
        |  SELECT doc_id, len(regexp_extract_all(trim(text), '\S+')) AS n_tokens
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n_tokens,
        |    sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM t)
        |SELECT CAST(floor((cum - n_tokens) / 512) AS BIGINT) AS bin,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
        |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
        |FROM c GROUP BY 1""".stripMargin,
    "ta_unigram_lp" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS tok
        |  FROM documents),
        |freq AS (SELECT tok, count(*) AS cnt FROM toks GROUP BY tok),
        |tot AS (SELECT sum(cnt)::DOUBLE AS total FROM freq)
        |SELECT t.doc_id, count(*) AS n_toks,
        |  round(avg(ln(f.cnt::DOUBLE / tot.total)), 6) AS avg_lp
        |FROM toks t JOIN freq f ON t.tok = f.tok CROSS JOIN tot
        |GROUP BY 1""".stripMargin,
    "ta_bm25" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(regexp_extract_all(lower(trim(text)), '\S+')) AS tok
        |  FROM documents),
        |lens AS (
        |  SELECT doc_id, len(regexp_extract_all(text, '\S+'))::BIGINT AS len
        |  FROM documents),
        |stats AS (SELECT count(*)::DOUBLE AS n, sum(len)::DOUBLE AS sl FROM lens),
        |dft AS (SELECT tok, count(DISTINCT doc_id)::BIGINT AS df
        |  FROM toks GROUP BY 1),
        |q AS (SELECT tok, df FROM (
        |    SELECT tok, df, row_number() OVER (ORDER BY df DESC, tok ASC) AS rn
        |    FROM dft)
        |  WHERE rn BETWEEN 24 AND 31),
        |tf AS (SELECT t.doc_id, q.tok, q.df, count(*)::DOUBLE AS tf
        |  FROM toks t JOIN q USING (tok) GROUP BY 1, 2, 3),
        |sc AS (SELECT tf.doc_id, count(*)::BIGINT AS n_terms,
        |    round(sum(
        |      ln(1.0 + (stats.n - tf.df + 0.5) / (tf.df + 0.5)) *
        |      (tf.tf * 2.2) /
        |      (tf.tf + 1.2 *
        |        (0.25 + 0.75 * lens.len / (stats.sl / stats.n)))), 6) AS score
        |  FROM tf JOIN lens ON tf.doc_id = lens.doc_id CROSS JOIN stats
        |  GROUP BY 1)
        |SELECT doc_id, n_terms, score FROM sc
        |ORDER BY score DESC, doc_id ASC LIMIT 100""".stripMargin,
    "td_stratified_sample" ->
      """SELECT lang, count(*) AS n_kept,
        | CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        | FROM (SELECT lang, doc_id, n_chars,
        |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b
        |   FROM documents)
        | WHERE b < CASE lang WHEN 'en' THEN 25 WHEN 'zh' THEN 60 ELSE 100 END
        | GROUP BY 1""".stripMargin,
    "td_split" ->
      """SELECT CASE WHEN b < 90 THEN 'train' WHEN b < 95 THEN 'valid' ELSE 'test' END AS split,
        | count(*) AS n, min(doc_id) AS min_id, CAST(sum(doc_id) AS BIGINT) AS sum_ids
        | FROM (SELECT doc_id,
        |   ('0x' || substr(md5(doc_id::VARCHAR), 1, 15))::BIGINT % 100 AS b
        |   FROM documents)
        | GROUP BY 1""".stripMargin,
    "ta_winnow" ->
      """WITH cp AS (
        |  SELECT doc_id,
        |    CASE WHEN length(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) = 0 THEN []
        |         ELSE list_transform(
        |           string_split(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'), ''),
        |           c -> unicode(c)::BIGINT) END AS cps
        |  FROM documents),
        |g AS (
        |  SELECT doc_id,
        |    CASE WHEN len(cps) = 0 THEN [0]
        |         WHEN len(cps) < 5 THEN [list_reduce(cps, (a, c) -> a * 131 + c) % 134217689]
        |         ELSE list_transform(generate_series(1, len(cps) - 4),
        |                i -> list_reduce(cps[i:i+4], (a, c) -> a * 131 + c) % 134217689)
        |    END AS gh
        |  FROM cp),
        |f AS (
        |  SELECT doc_id,
        |    CASE WHEN len(gh) <= 4 THEN [list_min(gh)]
        |         ELSE list_transform(generate_series(1, len(gh) - 3), i -> list_min(gh[i:i+3]))
        |    END AS fps
        |  FROM g)
        |SELECT DISTINCT doc_id, fp FROM (SELECT doc_id, unnest(fps) AS fp FROM f)""".stripMargin,
    "ta_ngram_novelty" ->
      s"""${DedupQueries.duckShingles},
        |g AS (SELECT doc_id, unnest(list_distinct(shingles)) AS gram FROM sh),
        |fs AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY gram)
        |SELECT g.doc_id, count(*)::BIGINT AS n_grams,
        |  sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END)::BIGINT AS n_novel,
        |  (1000000 * sum(CASE WHEN fs.first_doc = g.doc_id THEN 1 ELSE 0 END)::BIGINT)
        |    // count(*) AS novelty_micro
        |FROM g JOIN fs ON g.gram = fs.gram
        |GROUP BY g.doc_id""".stripMargin,
    "td_clean_corpus" ->
      s"""WITH scored AS (
        |  SELECT doc_id, lang, text,
        |    len(regexp_extract_all(text, '\\S+')) AS n_tok,
        |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
        |    len(regexp_extract_all(text, '[a-zA-Z]')) AS n_alpha,
        |    $duckLangScores
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id, lang,
        |    ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 15))::BIGINT AS fp_long
        |  FROM scored
        |  WHERE n_tok BETWEEN 5 AND 10000
        |    AND n_punct * 5 < length(text)
        |    AND n_alpha * 2 > length(text)
        |    AND (CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |              WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |              WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END) = lang)
        |SELECT fp_long, min(doc_id) AS doc_id, min(lang) AS lang,
        |  count(*) AS n_dups
        |FROM kept GROUP BY 1""".stripMargin,
    "td_pipeline" ->
      s"""WITH scored AS (
        |  SELECT doc_id, lang, text,
        |    len(regexp_extract_all(text, '\\S+')) AS n_tok,
        |    len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS n_punct,
        |    len(regexp_extract_all(text, '[a-zA-Z]')) AS n_alpha,
        |    $duckLangScores
        |  FROM documents),
        |kept AS (
        |  SELECT doc_id,
        |    ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')), 1, 15))::BIGINT AS fp_long
        |  FROM scored
        |  WHERE n_tok BETWEEN 5 AND 10000
        |    AND n_punct * 5 < length(text)
        |    AND n_alpha * 2 > length(text)
        |    AND (CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
        |              WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
        |              WHEN s_de >= s_fr THEN 'de' ELSE 'fr' END) = lang),
        |survivors AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY fp_long),
        |toks AS (
        |  SELECT doc_id, string_split(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ') AS t
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, array_to_string(t[i:i+7], ' ') AS gram
        |  FROM toks, UNNEST(range(1, len(t) - 6)) AS u(i)
        |  WHERE len(t) >= 8),
        |bench AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 23 = 0),
        |flagged AS (
        |  SELECT DISTINCT g.doc_id FROM grams g JOIN bench b USING (gram)
        |  WHERE g.doc_id % 23 <> 0),
        |release AS (
        |  SELECT s.doc_id FROM survivors s
        |  WHERE s.doc_id % 23 <> 0
        |    AND s.doc_id NOT IN (SELECT doc_id FROM flagged))
        |SELECT d.source, count(*) AS n_docs,
        |  CAST(sum(len(regexp_extract_all(d.text, '\\S+'))) AS BIGINT) AS n_tokens
        |FROM documents d JOIN release USING (doc_id)
        |GROUP BY 1""".stripMargin)
}

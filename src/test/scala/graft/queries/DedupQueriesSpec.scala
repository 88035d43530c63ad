package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{sf001, spark}

/** Cluster-resolution semantics: the driver union-find fast path and the
  * distributed min-label-propagation path must agree — same components,
  * min-id labels — on graphs with chains, triangles, merged components,
  * and isolated vertices.
  */
class DedupQueriesSpec extends AnyFunSuite {
  import spark.implicits._

  // chain 1-2-3-4, triangle 10-11-12, late merge 3-10, pair 20-21
  private val edges = Seq(
    (2L, 1L), (2L, 3L), (3L, 4L),
    (10L, 11L), (11L, 12L), (12L, 10L),
    (3L, 10L),
    (20L, 21L)).toDF("doc_a", "doc_b")

  private val expected = Map(
    1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
    10L -> 1L, 11L -> 1L, 12L -> 1L, // merged into the chain's component
    20L -> 20L, 21L -> 20L)

  test("union-find fast path labels components by min id, every endpoint present") {
    val got = DedupQueries.connectedComponents(edges, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("distributed propagation path (forced) agrees with the fast path") {
    val got = DedupQueries.connectedComponents(edges, "doc_a", "doc_b",
        maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("typo pairs: deletion blocking is COMPLETE for every edit kind; transpositions rejected") {
    // one substitution pair, one insert/delete pair, one transposition
    // (lev 2 — must be blocked as a candidate but killed by verify),
    // one distance-2 pair (must not appear)
    val names = Seq("cat", "car", "cart", "act", "dog", "dig", "dug", "fish")
      .toDF("name")
    val got = DedupQueries.typoPairs(names).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val all = names.collect().map(_.getString(0))
    val want = (for {
      a <- all; b <- all if a < b && lev(a, b) == 1
    } yield (a, b)).toSet
    assert(got == want)
    assert(got.contains(("car", "cat")) && got.contains(("car", "cart")))
    assert(!got.contains(("act", "cat")), "transposition is distance 2")
  }

  test("typo pairs: run-dedup'd codegen variants + hashed keys == brute force on adversarial names") {
    // r14 rewrite lock: variant generation keeps one deletion per
    // equal-char RUN (delete(s,i)==delete(s,j), i<j, iff s[i..j] is one
    // repeated char — the array_distinct-equivalence the codegen form
    // relies on), and the join key is xxhash64(variant). Runs, unicode
    // (non-ASCII chars, so byte- vs char-indexing bugs would fire),
    // empties, and length-1 names all verified against an independent
    // full Levenshtein DP.
    val advNames = Seq("", "a", "aa", "aaa", "ab", "ba", "aab", "abb",
      "aabb", "xxxyyy", "xxyxx", "résumé", "résume", "resume", "naïve",
      "naive", "αβγ", "αβ", "ぁあぃ", "ぁあ",
      "Customer#000000000", "Customer#000000001", "Custmer#000000001",
      "Customer##00000001")
    val got = DedupQueries.typoPairs(advNames.toDF("name")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val want = (for {
      a <- advNames; b <- advNames if a < b && lev(a, b) == 1
    } yield (a, b)).toSet
    assert(got == want)
    assert(want.contains(("a", "aa")) && want.contains(("aa", "aaa")),
      "run-dedup must not lose insert/delete pairs inside equal-char runs")
    assert(want.contains(("résume", "résumé")), "unicode edit pair present")
  }

  test("dd_typo_pairs == brute-force distance-1 scan over sf0.001 customer names") {
    import graft.SparkTestBase.sf001
    val names = graft.Tables.customer(spark, sf001)
      .select("c_name").collect().map(_.getString(0))
    val got = DedupQueries.ddTypoPairs(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    // names are fixed-width here, so distance 1 == exactly one
    // differing position
    val want = (for {
      a <- names; b <- names
      if a < b && a.length == b.length &&
        a.zip(b).count { case (x, y) => x != y } == 1
    } yield (a, b)).toSet
    assert(got == want)
    assert(got.nonEmpty)
  }

  test("dd_para_dedup: each distinct paragraph survives exactly once, in order") {
    import graft.SparkTestBase.sf001
    val out = DedupQueries.ddParaDedup(spark, sf001).collect()
    assert(out.nonEmpty)
    // global invariant: total kept paragraphs == distinct paragraphs
    val docs = graft.Tables.documents(spark, sf001)
    val distinctParas = docs
      .selectExpr("doc_id", "split(text, ' ') AS ws")
      .selectExpr("""explode(transform(sequence(0, cast(ceil(size(ws)/10.0) as int)-1),
                     g -> array_join(slice(ws, g*10+1, 10), ' '))) AS para""")
      .distinct().count()
    assert(out.map(_.getAs[Long]("n_keep")).sum == distinctParas)
    // a doc whose paragraphs are all globally-first keeps its text verbatim
    val original = docs.select("doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    val intact = out.filter { r =>
      original(r.getAs[Long]("doc_id")) == r.getAs[String]("text")
    }
    assert(intact.nonEmpty, "some documents must survive unmodified")
    // and every reassembled text is a subsequence of the original's chunks
    out.take(50).foreach { r =>
      val orig = original(r.getAs[Long]("doc_id"))
      r.getAs[String]("text").split(' ').foreach(w =>
        assert(orig.contains(w), "reassembly must not invent tokens"))
    }
  }

  // ---- embedding near-dup: fixed-block fixture + LSH recall ----------

  /** Sequential-double dot, the same left-to-right order VecExprs.dot
    * compiles, so the in-spec oracle is bit-identical to the plan.
    */
  private def dotSeq(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
    s
  }

  /** Exact within-label cos ≥ t pairs, brute force. */
  private def exactPairs(rows: Seq[(Long, Int, Array[Float])], t: Double): Set[(Long, Long)] = {
    val t2 = t * t
    val byLabel = rows.groupBy(_._2)
    byLabel.values.flatMap { g =>
      for {
        (ia, la, ea) <- g; (ib, lb, eb) <- g
        if ia < ib
        dot = dotSeq(ea, eb)
        if dot > 0 && dot * dot >= t2 * dotSeq(ea, ea) * dotSeq(eb, eb)
      } yield (ia, ib)
    }.toSet
  }

  test("fixed-block near-dup (spec fixture): matches the brute-force oracle at sf0.001") {
    // The demoted-from-queries quadratic form: its perfect within-block
    // recall is exactly why it lives here as the oracle, not in
    // SparkEntry.queries (94x wall at 10x data, BENCH_NOTES r6).
    import graft.SparkTestBase.sf001
    val rows = graft.Tables.embeddings(spark, sf001)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray)).toSeq
    val expectedPairs = exactPairs(rows, 0.35)
    val got = DedupQueries.ddEmbedNeardup(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expectedPairs)
    assert(got.nonEmpty, "sf0.001 must contain at least one near-dup pair")
  }

  test("banded-LSH candidates are a subset of the exact pair set") {
    import graft.SparkTestBase.sf001
    val exact = DedupQueries.ddEmbedNeardup(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = DedupQueries.ddEmbedNeardupLsh(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "exact verify must keep LSH from inventing pairs")
  }

  test("banded-LSH recall >= 75% on seeded cos-0.9 pairs at the production threshold 0.8") {
    // The docstring claim (DedupQueries.embedNeardupLshPairs): at
    // near-dup thresholds the 2-band x 3-plane config holds >= 75%
    // recall. Seed 200 deterministic pairs at cos = 0.9 exactly:
    // twin = cos(theta) * v_hat + sin(theta) * u_perp_hat. Analytic
    // expectation with these planes: p = 1 - acos(.9)/pi = .856 per
    // plane, 1 - (1 - p^3)^2 = .86 per pair.
    val rnd = new scala.util.Random(42)
    def gauss(): Array[Double] = Array.fill(64)(rnd.nextGaussian())
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    val cosT = 0.9; val sinT = math.sqrt(1 - cosT * cosT)
    val rows = (0 until 200).flatMap { i =>
      val v = gauss()
      val vn = norm(v); val vh = v.map(_ / vn)
      val u = gauss()
      val proj = u.zip(vh).map { case (x, h) => x * h }.sum
      val up = u.zip(vh).map { case (x, h) => x - proj * h }
      val un = norm(up); val uh = up.map(_ / un)
      val twin = vh.zip(uh).map { case (a, b) => cosT * a + sinT * b }
      Seq((2L * i, i % 4, v.map(_.toFloat)),
        (2L * i + 1, i % 4, twin.map(_.toFloat)))
    }
    val df = rows.toDF("vec_id", "label", "embedding")
    val truePairs = exactPairs(rows, 0.8)
    assert(truePairs.size >= 200, "every seeded twin must be a true pair")
    val got = DedupQueries.embedNeardupLshPairs(df, 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(truePairs))
    val recall = got.size.toDouble / truePairs.size
    info(f"banded-LSH recall at cos>=0.8: ${got.size}/${truePairs.size} = $recall%.3f")
    assert(recall >= 0.75, f"recall $recall%.3f below the documented 75%% floor")
  }

  test("planes-per-band ladder: floor 3, +1 per doubling past 1000, cap 14") {
    // The scale knob behind dd_embed_neardup_lsh / sim_knn_graph:
    // integer thresholds so the DuckDB oracle mirrors every boundary
    // exactly. The boundary semantics are strict-greater: N = 1000
    // still runs 3 planes. Round 10 extended the ladder past its former
    // 16k cap (occupancy was growing linearly with N there — 78 at 20k
    // vectors vs 781 at 200k, candidate pairs 1.84M vs 185.5M).
    val expect = Seq(1L -> 3, 500L -> 3, 1000L -> 3, 1001L -> 4,
      2000L -> 4, 2001L -> 5, 4000L -> 5, 4001L -> 6, 8000L -> 6,
      8001L -> 7, 16000L -> 7, 16001L -> 8, 20000L -> 8,
      32001L -> 9, 64001L -> 10, 128001L -> 11, 200000L -> 11,
      256001L -> 12, 512001L -> 13, 1024001L -> 14, 100000000L -> 14)
    expect.foreach { case (n, p) =>
      assert(DedupQueries.lshPlanesPerBand(n) == p, s"N=$n")
    }
    // the cap must fit the prefix-stable plane pool: 2 bands x 14 planes
    assert(2 * 14 <= graft.queries.SimQueries.MaxPlanes)
    // and the DuckDB prm mirror must carry every threshold of the list
    DedupQueries.LshLadderThresholds.foreach { t =>
      assert(graft.queries.SimQueries.duckPrmLadder.contains(s"count(*) > $t"),
        s"duck prm mirror is missing threshold $t")
    }
    // the DuckDB oracle's signature must be as wide as the widest sig
    // the ladder can ask for (2 bands x p_max planes) — duckBanded
    // extracts band 1 as (sig >> p) & mask, needing bits up to 2p-1.
    // Hardcoding a narrower width (the r10 bug: duckSigBits(16)) makes
    // the two engines diverge exactly at the >32k-vector regime the
    // ladder extension targets.
    val pMax = 3 + DedupQueries.LshLadderThresholds.size
    val topBit = 1L << (2 * pMax - 1)
    assert(graft.queries.SimQueries.duckSigBits(graft.queries.SimQueries.MaxPlanes)
      .contains(s"THEN $topBit ELSE"),
      s"duck sig oracle must reach bit ${2 * pMax - 1} (value $topBit)")
    // ...and all three banded-LSH oracles must actually USE that width
    Seq("sim_knn_graph", "dd_semdedup", "dd_embed_neardup_lsh").foreach { q =>
      assert(graft.SparkEntry.oracleSql(q).contains(s"THEN $topBit ELSE"),
        s"$q oracle sig is narrower than 2*p_max = ${2 * pMax} bits")
    }
  }

  test("adaptive banding (N > 1000 -> p = 4) still verifies exactly: subset of brute force") {
    // Exercises the ladder's wide branch end-to-end: at N = 1200 the
    // bander runs 2 bands x 4 planes (16 buckets/band), and the exact
    // cosine verify must still keep every reported pair a true pair.
    val rnd = new scala.util.Random(7)
    val rows = (0 until 1200).map { i =>
      (i.toLong, i % 3, Array.fill(64)(rnd.nextGaussian().toFloat))
    }
    val df = rows.toDF("vec_id", "label", "embedding")
    val got = DedupQueries.embedNeardupLshPairs(df, 0.2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.subsetOf(exactPairs(rows, 0.2)),
      "the wide-branch bander must not invent pairs")
    assert(got.nonEmpty, "threshold 0.2 on random gaussians must yield candidates")
  }

  test("dd_semdedup: complete decision table, clusters = sim_kmeans, drops = lower-id LSH dup") {
    // SemDeDup is a COMPOSITION of two already-locked operators; this
    // spec pins the composition contract: (1) one decision row per
    // vector, (2) the cluster column is bit-identical to sim_kmeans'
    // assignment, (3) keep = 0 exactly for vectors with a verified
    // lower-id near-dup (cos >= SemThreshold) among their cluster's
    // banded-LSH candidates — re-derived here through the public faces.
    import graft.SparkTestBase.sf001
    val sem = DedupQueries.ddSemdedup(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    val km = SimQueries.simKmeans(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sem.keySet == km.keySet, "one decision per embedded vector")
    assert(sem.forall { case (id, (c, _)) => c == km(id) },
      "cluster column must be the sim_kmeans assignment")
    val emb = graft.Tables.embeddings(spark, sf001).select("vec_id", "embedding")
    val relabeled = emb.join(
      SimQueries.simKmeans(spark, sf001).withColumnsRenamed(Map("cluster" -> "label")),
      Seq("vec_id"))
    val droppedIds = DedupQueries.embedNeardupLshPairs(relabeled, DedupQueries.SemThreshold)
      .select("vec_b").collect().map(_.getLong(0)).toSet
    assert(sem.filter(_._2._2 == 0L).keySet == droppedIds,
      "keep=0 iff a lower-id verified near-dup exists in the cluster")
    assert(sem.forall { case (_, (_, k)) => k == 0L || k == 1L })
  }

  test("dd_prefix_join constructed: includes J>=0.7 pairs only, exact counts") {
    import graft.SparkTestBase.{sf001, spark => sp}
    // A: 10 words -> 8 shingles; B: last word changed -> 1 shingle differs
    // (J = 7/9 >= 0.7); C: exact copy of A (J = 1); D: disjoint (J = 0).
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    val docs = Seq(
      1L -> a,
      2L -> a.replace("w10", "zz"),
      3L -> a,
      4L -> "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10").toDF("doc_id", "text")
    val got0 = DedupQueries.prefixJoinOf(TextQueries.gramStream(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got0 == Set((1L, 2L, 7L, 9L), (1L, 3L, 8L, 8L), (2L, 3L, 7L, 9L)),
      "the J=7/9 and J=1 pairs survive, the disjoint doc never pairs")
    // corpus equivalence: the distributed prefix-filtered join must equal
    // the full quadratic brute force over the real corpus
    val gsets = TextQueries.gramStream(graft.Tables.documents(sp, sf001))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.map(_.getString(1)).toSet }
    val brute = (for {
      x <- gsets.keys; y <- gsets.keys; if x < y
      i = gsets(x).intersect(gsets(y)).size; u = gsets(x).size + gsets(y).size - i
      if DedupQueries.PjDen * i >= DedupQueries.PjNum * u
    } yield (x, y, i.toLong, u.toLong)).toSet
    val got = DedupQueries.ddPrefixJoin(sp, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == brute,
      "prefix filtering must lose NOTHING versus the quadratic brute force")
    assert(got.nonEmpty, "the corpus contains true near-dup pairs")
  }

  test("dd_prefix_join replica-structured corpus: position filter + hash verify lose nothing") {
    // The scaled corpus's adversarial shape: replicas of a base text with
    // every 4th word mutated per replica — rare grams survive across many
    // replicas, so the PLAIN prefix filter admits quadratically many
    // J≈0.1 pairs (measured 22.3M candidates at sf10) that the position
    // filter must prune WITHOUT losing any true pair; some replica pairs
    // are exact duplicates (J=1) and must all surface. Brute force is the
    // ground truth, exactly like the corpus spec above.
    val words = (1 to 40).map(i => s"w$i")
    val docs = (0 until 24).map { i =>
      val w = words.zipWithIndex.map { case (x, p) =>
        if (i > 0 && (p + i) % 4 == 0) x + ('a' + (i + p) % 5).toChar else x
      }
      (i.toLong, w.mkString(" "))
    }.toDF("doc_id", "text")
    val gsets = TextQueries.gramStream(docs).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getString(1)).toSet }
    val brute = (for {
      x <- gsets.keys; y <- gsets.keys; if x < y
      i = gsets(x).intersect(gsets(y)).size; u = gsets(x).size + gsets(y).size - i
      if DedupQueries.PjDen * i >= DedupQueries.PjNum * u
    } yield (x, y, i.toLong, u.toLong)).toSet
    val got = DedupQueries.prefixJoinOf(TextQueries.gramStream(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(brute.nonEmpty, "the constructed corpus must contain true pairs")
    assert(got == brute, "position filter / hash verify must be lossless")
  }

  test("sorted_intersect_count: multiset two-pointer semantics") {
    import graft.functions.VecExprs.sortedIntersectCount
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (Array(1L, 2L, 3L), Array(2L, 3L, 4L), 2),   // plain overlap
      (Array(1L, 1L, 2L), Array(1L, 2L, 2L), 2),   // multiset: min counts
      (Array.empty[Long], Array(1L), 0),           // empty side
      (Array(5L), Array(5L), 1),
      (Array(1L, 3L, 5L), Array(2L, 4L, 6L), 0)    // disjoint
    ).toDF("a", "b", "want")
    val bad = df.filter(
      sortedIntersectCount(col("a"), col("b")) =!= col("want")).count()
    assert(bad == 0L)
  }

  test("distributed path converges on a chain with diameter > 30") {
    // chain 0-1-2-...-40: plain min-label propagation needs ~40 rounds —
    // the old fixed 30-round cap silently split this into two clusters;
    // pointer jumping closes it in O(log n) rounds instead.
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = DedupQueries.connectedComponents(chain, "doc_a", "doc_b",
        maxDriverEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.values.toSet == Set(0L), s"chain must be ONE component, got ${got.values.toSet}")
    assert(got.keySet == (0L to 40L).toSet)
  }

  test("simhash wide block-combination keys ≡ narrow bands ≡ brute force") {
    // hand simhashes at hamming 0..4 with flipped bits spread across
    // DIFFERENT 10-bit blocks and 15-bit bands: both key schemes must
    // recover exactly the hamming ≤ 3 pairs (pigeonhole), and drop the
    // hamming-4 ones even when some bucket collides.
    val mask60 = (1L << 60) - 1
    val base = 0x0FAB34C9D2E57L & mask60
    def flip(v: Long, bits: Int*): Long = bits.foldLeft(v)((a, b) => a ^ (1L << b))
    val rows = Seq(
      1L -> base,
      2L -> flip(base, 3),              // hamming 1 vs base
      3L -> flip(base, 9, 22),          // hamming 2, distinct blocks+bands
      4L -> flip(base, 5, 31, 58),      // hamming 3 across three blocks
      5L -> flip(base, 0, 15, 30, 45),  // hamming 4 vs base (one per band!)
      6L -> (~base & mask60))           // far away
    val sh = rows.toDF("doc_id", "simhash")
    def run(wide: Boolean): Set[(Long, Long, Int)] =
      DedupQueries.simhashPairsOf(sh, wide).collect()
        .map(r => (r.getLong(0), r.getLong(1),
          r.getAs[Number]("hamming").intValue)).toSet
    val narrow = run(wide = false)
    val wideSet = run(wide = true)
    val brute = (for {
      (a, va) <- rows; (b, vb) <- rows if a < b
      h = java.lang.Long.bitCount(va ^ vb) if h <= DedupQueries.HammingMax
    } yield (a, b, h)).toSet
    assert(narrow == brute, s"narrow missed/invented pairs: $narrow vs $brute")
    assert(wideSet == brute, s"wide missed/invented pairs: $wideSet vs $brute")
    // doc 5 differs from base in one bit PER 15-bit band — the narrow
    // scheme only drops it at the final hamming filter; presence of the
    // equal-band collision is exactly why the assertion above is not
    // vacuous for the narrow path.
    assert(!brute.exists(p => p._1 == 1L && p._2 == 5L))
  }

  test("dd_simhash_pairs on the corpus matches under both key ladders") {
    val sh = DedupQueries.ddSimhash(spark, sf001)
    def canon(wide: Boolean) =
      DedupQueries.simhashPairsOf(sh, wide).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(canon(wide = false) == canon(wide = true))
  }
}

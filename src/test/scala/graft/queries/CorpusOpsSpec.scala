package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{sf001, spark}

/** Semantics of the round-8 corpus operators: exact repeated-substring
  * span detection (dd_substring), distributed Lloyd k-means
  * (sim_kmeans), the domain-mixture table (td_domain_mix), and the
  * per-source KL drift monitor (ta_kl_drift). The DuckDB oracles pin
  * engine parity; these pin the SEMANTICS on constructed fixtures and
  * driver-side recomputations.
  */
class CorpusOpsSpec extends AnyFunSuite {
  import spark.implicits._

  // ---- dd_substring ---------------------------------------------------

  private def spans(rows: (Long, String)*) =
    DedupQueries.substringSpans(rows.toDF("doc_id", "text"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(x => (x._1, x._2))

  test("dd_substring reports the shared run in both documents, at its offsets") {
    // 6 shared words => two 5-grams => one span of 2 grams per doc
    val shared = "alpha beta gamma delta epsilon zeta"
    val got = spans(
      1L -> s"$shared unique1 unique2",
      2L -> s"pre1 pre2 $shared post1",
      3L -> "totally fresh words with no duplicated run at all")
    assert(got === Seq((1L, 0L, 6L, 2L), (2L, 2L, 8L, 2L)))
  }

  test("dd_substring merges gram hits within SubGram words into one maximal span") {
    // doc 10 = P1 ++ P2 back to back: dup grams at pos 0 and 5, gap == SubGram
    // => single island [0, 10); docs 11/12 carry one phrase each.
    val p1 = "one two three four five"
    val p2 = "six seven eight nine ten"
    val got = spans(
      10L -> s"$p1 $p2",
      11L -> s"$p1 tail11 tail12 tail13",
      12L -> s"head12a head12b $p2")
    assert(got.filter(_._1 == 10L) === Seq((10L, 0L, 10L, 2L)))
    assert(got.filter(_._1 == 11L) === Seq((11L, 0L, 5L, 1L)))
    assert(got.filter(_._1 == 12L) === Seq((12L, 2L, 7L, 1L)))
  }

  test("dd_substring spans on the corpus are disjoint, ordered, and >= SubGram wide") {
    val rows = DedupQueries.ddSubstring(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    rows.groupBy(_._1).foreach { case (_, ss) =>
      val sorted = ss.sortBy(_._2)
      sorted.foreach { case (_, a, b, n) =>
        assert(b - a >= DedupQueries.SubGram)
        assert(n >= 1 && n <= b - a - DedupQueries.SubGram + 1)
      }
      sorted.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) =>
          // maximality: islands merge when consecutive gram starts are
          // within SubGram, so the next span's first gram (s2) must sit
          // beyond the previous island's last gram start (e1 - SubGram)
          // by more than SubGram — i.e. strictly past e1
          assert(s2 > e1)
        case _ => ()
      }
    }
  }

  // ---- sim_kmeans -----------------------------------------------------

  test("sim_kmeans assignment equals a driver-side argmin over the final centroids") {
    val v = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding"))
    val init = v.filter(col("vec_id") < SimQueries.KmK)
      .collect().toSeq
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble)))
      .sortBy(_._1)
    val cents = (1 until SimQueries.KmRounds)
      .foldLeft(init)((c, _) => SimQueries.kmUpdate(v, c))

    val got = SimQueries.simKmeans(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

    val vecs = v.collect().map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    vecs.foreach { case (id, e) =>
      val best = cents.map { case (cid, c) =>
        val d = e.zip(c).map { case (x, y) => (x - y) * (x - y) }.sum
        (d, cid)
      }.minBy(identity) // smallest distance, ties to smallest cid
      assert(got(id) === best._2, s"vec $id")
    }
  }

  test("sim_kmeans is deterministic across invocations") {
    val a = SimQueries.simKmeans(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val b = SimQueries.simKmeans(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(a === b)
  }

  // ---- td_domain_mix --------------------------------------------------

  test("td_domain_mix weights normalize and compress the token-share spread") {
    val rows = TextQueries.tdDomainMix(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4)
    assert(math.abs(rows.map(_._3).sum - 1.0) < 1e-4)
    // monotone: more tokens => no smaller weight; and α<1 flattens the spread
    val byTokens = rows.sortBy(_._2)
    byTokens.sliding(2).foreach {
      case Array((_, t1, _, w1), (_, t2, _, w2)) =>
        if (t1 < t2) assert(w1 <= w2 + 1e-9)
      case _ => ()
    }
    val pMax = rows.map(_._3).max; val pMin = rows.map(_._3).min
    val wMax = rows.map(_._4).max; val wMin = rows.map(_._4).min
    if (pMin > 0 && wMin > 0) assert(wMax / wMin <= pMax / pMin + 1e-6)
  }

  // ---- ta_kl_drift ----------------------------------------------------

  test("ta_kl_drift: KL is non-negative and per-source token totals cover the corpus") {
    val rows = TextQueries.taKlDrift(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    rows.foreach { case (src, n, kl) =>
      assert(kl >= -1e-6, s"KL($src) = $kl")
      assert(n > 0)
    }
    val totalToks = graft.Tables.documents(spark, sf001)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .count()
    assert(rows.map(_._2).sum === totalToks)
  }

  // ---- td_weighted_sample ---------------------------------------------

  /** The engine-portable 60-bit md5 hash, recomputed driver-side. */
  private def md5Long(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
  }

  test("td_weighted_sample matches a driver-side recomputation of every source's kept set") {
    val mix = TextQueries.tdDomainMix(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap // source -> n_tokens
    val total = mix.values.sum.toDouble
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("source"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val pKeep = math.min(1.0, TextQueries.WsRate / math.sqrt(mix(src) / total))
      val thr = math.floor(pKeep * TextQueries.WsBuckets).toLong
      val kept = ds.map(_._2).filter(id => md5Long(s"11:$id") % TextQueries.WsBuckets < thr)
      src -> ((kept.length.toLong, kept.sum, pKeep))
    }
    val got = TextQueries.tdWeightedSample(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    assert(got.keySet === expected.keySet)
    expected.foreach { case (src, (nKept, sumIds, pKeep)) =>
      val (gN, gSum, gP) = got(src)
      assert(gN === nKept, s"n_kept($src)")
      assert(gSum === sumIds, s"sum_ids($src)")
      assert(math.abs(gP - pKeep) < 5e-7, s"p_keep($src)")
    }
    // small sources are boosted: the DESIGNED p_keep is non-increasing
    // in source token count (an inverted sqrt temperature would flip it)
    val pBySize = got.toSeq.map { case (src, (_, _, p)) => (mix(src), p) }.sortBy(_._1)
    pBySize.sliding(2).foreach {
      case Seq((t1, p1), (t2, p2)) =>
        if (t1 < t2) assert(p1 >= p2 - 1e-9, s"p_keep not inverse to size ($t1:$p1 vs $t2:$p2)")
      case _ => ()
    }
    assert(got.values.forall { case (n, _, p) => p > 0.0 && p <= 1.0 && n >= 0 })
  }

  // ---- ta_inverted_index ----------------------------------------------

  test("ta_inverted_index postings are sorted prefixes and df/tf agree with a recount") {
    val rows = TextQueries.taInvertedIndex(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (tok, df, tf, postings) =>
      assert(df >= TextQueries.InvMinDf)
      assert(tf >= df, s"tf_total($tok) < df")
      val ids = postings.split(",").map(_.toLong)
      assert(ids.length == math.min(df, TextQueries.InvPostings.toLong))
      assert(ids.sameElements(ids.sorted), s"postings($tok) not ascending")
      assert(ids.distinct.length == ids.length)
    }
    // recount the highest-df token from the raw corpus
    val (tok, df, tf, _) = rows.maxBy(_._2)
    val counts = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
      .filter(col("t") === tok)
      .agg(countDistinct(col("doc_id")), count(lit(1)))
      .head()
    assert(counts.getLong(0) === df)
    assert(counts.getLong(1) === tf)
  }

  // ---- ta_bpe_pairs ---------------------------------------------------

  test("ta_bpe_pairs top merge equals a driver-side recount over the vocabulary") {
    val vocab = TextQueries.taVocab(spark, sf001) // reuse corpus tokenization
    val freqs = graft.Tables.documents(spark, sf001)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy("tok").count().collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = freqs.filter(_._1.length >= 2)
      .flatMap { case (w, f) => w.sliding(2).map(_ -> f) }
      .groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2).sum) }
    val rows = TextQueries.taBpePairs(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(rows.length === math.min(TextQueries.BpeTopPairs, expected.size))
    rows.foreach { case (pair, cnt, _) =>
      assert(expected(pair) === cnt, s"count($pair)")
    }
    // ranks are 1..k in (cnt desc, pair asc) order
    val ordered = rows.sortBy(r => (-r._2, r._1))
    assert(ordered.map(_._3).toSeq === (1 to rows.length))
    // the rank-1 row is the true argmax the learner would merge next
    val best = expected.toSeq.sortBy { case (p, c) => (-c, p) }.head
    assert(ordered.head._1 === best._1 && ordered.head._2 === best._2)
  }

  // ---- ta_bigram_lm ---------------------------------------------------

  test("ta_bigram_lm matches a driver-side smoothed-bigram recomputation") {
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty)))
    val bigrams = docs.flatMap { case (_, ts) => ts.sliding(2).filter(_.length == 2).map(a => (a(0), a(1))) }
    val c2 = bigrams.groupBy(identity).map { case (k, v) => (k, v.length.toLong) }
    val c1 = c2.groupBy(_._1._1).map { case (v, m) => (v, m.values.sum) }
    val vsz = docs.flatMap(_._2).distinct.length.toDouble
    val expected = docs.filter(_._2.length >= 2).map { case (id, ts) =>
      val bs = ts.sliding(2).filter(_.length == 2).map(a => (a(0), a(1))).toSeq
      val lps = bs.map { b => math.log((c2(b) + 1).toDouble / (c1(b._1) + vsz)) }
      id -> ((bs.length.toLong, lps.sum / lps.length))
    }.toMap
    val got = TextQueries.taBigramLm(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length === expected.size)
    got.foreach { case (id, n, lp) =>
      val (en, elp) = expected(id)
      assert(n === en, s"n_bigrams($id)")
      assert(math.abs(lp - elp) < 2e-6, s"avg_lp($id): $lp vs $elp")
    }
  }

  // ---- td_chunk -------------------------------------------------------

  test("td_chunk boundary cases: short doc, exact window, one-past, and overlap rule") {
    def doc(id: Long, nToks: Int) = (id, Seq.fill(nToks)("w").mkString(" "))
    val w = TextQueries.ChunkWindow; val s0 = TextQueries.ChunkStride
    val got = TextQueries.chunkSpans(
      Seq(doc(1, 1), doc(2, 128), doc(3, 129), doc(4, 130), doc(5, 300))
        .toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(x => (x._1, x._2))
    assert(got.filter(_._1 == 1L) === Seq((1L, 0L, 0L, 1L, 1L)))
    // n == window: the stride-start would only re-cover -> single chunk
    assert(got.filter(_._1 == 2L) === Seq((2L, 0L, 0L, 128L, 128L)))
    // n == window + 1: the second chunk adds exactly one new token
    assert(got.filter(_._1 == 3L) === Seq((3L, 0L, 0L, 128L, 128L), (3L, 1L, 96L, 129L, 33L)))
    assert(got.filter(_._1 == 4L) === Seq((4L, 0L, 0L, 128L, 128L), (4L, 1L, 96L, 130L, 34L)))
    // long doc: full windows at 0/96/192, tail cut at n
    assert(got.filter(_._1 == 5L) === Seq(
      (5L, 0L, 0L, 128L, 128L), (5L, 1L, 96L, 224L, 128L), (5L, 2L, 192L, 300L, 108L)))
    assert(w === 128L && s0 === 96L) // the fixtures above encode these
  }

  test("td_chunk on the corpus: full coverage, designed overlap, no degenerate tails") {
    val n = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split("\\s+").count(_.nonEmpty).toLong))
      .toMap
    val rows = TextQueries.tdChunk(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      assert(sorted.head._3 === 0L, s"doc $id starts at 0")
      assert(sorted.last._4 === n(id), s"doc $id covers to n")
      sorted.foreach { case (_, cid, s, e, nt) =>
        assert(s === cid * TextQueries.ChunkStride)
        assert(e - s === nt && nt >= 1 && nt <= TextQueries.ChunkWindow)
      }
      sorted.sliding(2).foreach {
        case Array((_, _, s1, e1, _), (_, _, s2, e2, _)) =>
          assert(s2 === s1 + TextQueries.ChunkStride, s"doc $id stride")
          assert(e2 > e1, s"doc $id: chunk adds no new tokens")
        case _ => ()
      }
    }
    // every tokenized doc appears
    assert(rows.map(_._1).distinct.length === n.count(_._2 > 0))
  }

  // ---- dd_lsh_stats ---------------------------------------------------

  test("dd_lsh_stats is consistent with the signature table and the pair join") {
    val rows = DedupQueries.ddLshStats(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).sorted === (0 until DedupQueries.B))
    val nDocs = DedupQueries.ddMinhashSig(spark, sf001).count()
    rows.foreach { case (band, nBuckets, total, maxB, pairs) =>
      assert(total === nDocs, s"band $band indexes every doc once")
      assert(maxB >= 1 && maxB <= total)
      assert(nBuckets <= total)
      // pair budget bounds: >= the hottest bucket's pairs, <= all-pairs
      assert(pairs >= maxB * (maxB - 1) / 2, s"band $band pair floor")
      assert(pairs <= total * (total - 1) / 2, s"band $band pair ceiling")
    }
  }

  // ---- sim_inertia ----------------------------------------------------

  test("sim_inertia equals a driver-side exact recomputation from the shared centroids") {
    val cents = SimQueries.kmCents(spark, sf001)
    val vecs = graft.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
    def dot(a: Seq[Double], b: Seq[Double]): Double =
      a.indices.foldLeft(0.0d)((acc, i) => acc + a(i) * b(i))
    val perVec = vecs.map { case (_, e) =>
      val (s, cid) = cents.map { case (cid, c) =>
        (2.0 * dot(e, c) - dot(c, c), cid)
      }.maxBy { case (s, cid) => (s, -cid) }
      (cid, math.floor((dot(e, e) - s) * 1000000.0).toLong)
    }
    val expected = perVec.groupBy(_._1).map { case (cid, xs) =>
      cid -> ((xs.length.toLong, xs.map(_._2).sum, xs.map(_._2).max))
    }
    val got = SimQueries.simInertia(spark, sf001)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
  }

  // ---- ev_rate_limit --------------------------------------------------

  test("ta_bm25 matches a driver-side recomputation on the sf0.001 corpus") {
    val got = TextQueries.queries("ta_bm25")(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // driver-side BM25 with the same tokenizer, constants, and
    // df-ranked query-term window
    val docs = graft.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq)
    val n = docs.length.toDouble
    val lens = docs.map { case (id, t) => id -> t.length.toLong }.toMap
    val sl = lens.values.sum.toDouble
    val df = docs.flatMap { case (_, t) => t.distinct }
      .groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val qterms = df.toSeq.sortBy { case (t, d) => (-d, t) }
      .slice(TextQueries.Bm25RankLo - 1, TextQueries.Bm25RankHi).toMap
    assert(qterms.nonEmpty, "query-term window must not be empty on the corpus")
    val expect = docs.flatMap { case (id, toks) =>
      val tf = toks.filter(qterms.contains)
        .groupBy(identity).map { case (k, v) => k -> v.length.toDouble }
      if (tf.isEmpty) None
      else {
        val s = tf.map { case (t, f) =>
          val d = qterms(t).toDouble
          math.log(1.0 + (n - d + 0.5) / (d + 0.5)) * (f * 2.2) /
            (f + 1.2 * (0.25 + 0.75 * lens(id) / (sl / n)))
        }.sum
        // bround semantics: 6-decimal HALF_EVEN, like the query
        Some((id, tf.size.toLong,
          BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_EVEN)
            .toDouble))
      }
    }.sortBy { case (id, _, sc) => (-sc, id) }
      .take(TextQueries.Bm25TopK).toSeq
    // compare keyed by doc_id: top-k membership uses the same
    // (rounded score DESC, doc_id ASC) order on both sides. Docs whose
    // recomputed score sits within the float tolerance of the kth score
    // are excluded from the membership check — driver-side summation
    // order differs from the engine's partial aggregation, so a sub-ulp
    // difference at the boundary could legitimately flip which of two
    // near-tied docs makes the cut without the engine being wrong.
    val kthScore = expect.last._3
    val boundary = expect.collect {
      case (id, _, es) if math.abs(es - kthScore) <= 1.1e-6 => id
    }.toSet
    assert(got.keySet -- boundary == expect.map(_._1).toSet -- boundary)
    expect.foreach { case (id, nt, es) =>
      got.get(id).foreach { case (gt, gs) =>
        assert(gt == nt, s"doc $id n_terms $gt vs $nt")
        // summation order differs driver vs partial-agg; rounding plus
        // an ulp guard
        assert(math.abs(gs - es) <= 1.1e-6, s"doc $id score $gs vs $es")
      }
    }
  }

  test("ev_rate_limit admits exactly the token-bucket sequence on a constructed timeline") {
    val t0 = 1700000000000000L // epoch micros
    def ev(id: Long, offsetSec: Long) =
      (7L, new java.sql.Timestamp(t0 / 1000 + offsetSec * 1000), id)
    // capacity 3, refill 1/min. Burst of 5 at t0: first 3 admitted.
    // +30s: still no full token accrued (bucket was at 0 credit) -> drop.
    // +120s (90s after burst): 2 tokens accrued -> admit; immediate
    // repeat -> admit (second token); third immediate -> drop.
    val events = (Seq(ev(1, 0), ev(2, 0), ev(3, 0), ev(4, 0), ev(5, 0),
      ev(6, 30), ev(7, 120), ev(8, 120), ev(9, 120)))
      .toDF("user_id", "ts", "event_id")
    val got = StreamQueries.rateLimit(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got === Array((7L, 9L, 5L, 4L)))
  }

  test("ev_rate_limit on the corpus: conservation and the full-bucket head start") {
    val rows = StreamQueries.evRateLimit(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (u, n, a, d) =>
      assert(a + d === n, s"user $u conservation")
      assert(a >= math.min(StreamQueries.RlCapacity, n), s"user $u head start")
      assert(a >= 0 && d >= 0)
    }
  }

  // ---- ev_funnel -------------------------------------------------------

  test("ev_funnel staged minima ≡ greedy fold over the (ts,event_type)-sorted sequence, ties included") {
    // The reference semantics: sort each user's events by (ts, event_type)
    // and run the 3-state greedy machine. Recomputed driver-side here and
    // compared against the array-free staged-min plan on a corpus built to
    // hit every tie shape: click-at-view-ts (must NOT count — 'click' <
    // 'view'), purchase-at-click-ts (MUST count — 'purchase' > 'click'),
    // duplicate timestamps, stage events missing entirely, and events
    // arriving out of order.
    val t0 = 1700000000000L
    def ts(s: Long) = new java.sql.Timestamp(t0 + s * 1000)
    val events = Seq(
      // u1: plain complete funnel, out-of-order input
      (1L, ts(30), "purchase"), (1L, ts(10), "view"), (1L, ts(20), "click"),
      // u2: click ties the view's ts -> sorts before it -> stage 1 only
      (2L, ts(10), "view"), (2L, ts(10), "click"),
      // u3: purchase ties the qualifying click's ts -> sorts after -> stage 3
      (3L, ts(10), "view"), (3L, ts(20), "click"), (3L, ts(20), "purchase"),
      // u4: purchase BEFORE the click -> stage 2
      (4L, ts(10), "view"), (4L, ts(15), "purchase"), (4L, ts(20), "click"),
      // u5: no view at all -> stage 0 despite click+purchase
      (5L, ts(10), "click"), (5L, ts(20), "purchase"),
      // u6: earliest click is too early; a later one qualifies; purchase
      // sits between them -> stage 2 (greedy must pick fc > fv, and the
      // purchase at ts 18 < fc=25 must not count)
      (6L, ts(5), "click"), (6L, ts(10), "view"), (6L, ts(18), "purchase"),
      (6L, ts(25), "click"),
      // u7: duplicate views and clicks at the same ts
      (7L, ts(10), "view"), (7L, ts(10), "view"), (7L, ts(12), "click"),
      (7L, ts(12), "click"), (7L, ts(12), "purchase"))
      .toDF("user_id", "ts", "event_type")
    val expected = events.collect()
      .map(r => (r.getLong(0), (r.getTimestamp(1).getTime, r.getString(2))))
      .groupBy(_._1)
      .map { case (u, rs) =>
        val sorted = rs.map(_._2).sortBy(identity)
        val stage = sorted.foldLeft(0) { case (st, (_, e)) =>
          if (st == 0 && e == "view") 1
          else if (st == 1 && e == "click") 2
          else if (st == 2 && e == "purchase") 3
          else st
        }
        u -> stage
      }
    val got = StreamQueries.funnelStagesOf(events).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === expected)
    assert(got === Map(1L -> 3, 2L -> 1, 3L -> 3, 4L -> 2, 5L -> 0,
      6L -> 2, 7L -> 3))
  }

  // ---- sim_recall_report ----------------------------------------------

  test("sim_recall_report agrees with a join of the two ranking queries it evaluates") {
    val k = math.min(SimQueries.TopK, SimQueries.LshTopK)
    val brute = SimQueries.simTopkBrute(spark, sf001).collect()
      .filter(_.getInt(2) <= k).map(r => (r.getLong(0), r.getLong(1))).toSet
    val ann = SimQueries.simIvfTopk(spark, sf001).collect()
      .filter(_.getInt(2) <= k).map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = brute.groupBy(_._1).map { case (q, ns) =>
      q -> ((ns.size.toLong, ns.count(ann.contains).toLong))
    }
    val got = SimQueries.simRecallReport(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === expected)
    got.values.foreach { case (kEval, hits) =>
      assert(kEval === k.toLong)
      assert(hits >= 0 && hits <= kEval)
    }
  }

  // ---- td_upsample ----------------------------------------------------

  test("td_upsample matches a driver-side replication recomputation") {
    val mix = TextQueries.tdDomainMix(spark, sf001).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val total = mix.values.sum.toDouble
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("source"), col("doc_id")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val expected = docs.groupBy(_._1).map { case (src, ds) =>
      val f = TextQueries.UpRate / math.sqrt(mix(src) / total)
      val whole = math.floor(f).toLong
      val thr = math.floor((f - math.floor(f)) * TextQueries.WsBuckets).toLong
      val copies = ds.flatMap { case (_, id) =>
        (0L to whole).filter(rep => rep < whole ||
          md5Long(s"13:$rep:$id") % TextQueries.WsBuckets < thr).map(rep => (id, rep))
      }
      src -> ((ds.length.toLong, copies.length.toLong,
        copies.map { case (id, rep) => id * (rep + 1) }.sum))
    }
    val got = TextQueries.tdUpsample(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
  }

  // ---- ev_anomaly -----------------------------------------------------

  test("ev_anomaly flags the constructed spike and nothing else") {
    val ts = new java.sql.Timestamp(0L)
    // n must be >= 6 for ANY point to clear 2σ (max z = (n-1)/√n)
    val events = Seq(
      (1L, 101L, 10.00), (1L, 102L, 10.02), (1L, 103L, 9.98),
      (1L, 104L, 10.00), (1L, 105L, 10.00), (1L, 106L, 500.00), // the spike
      (2L, 201L, 5.00), (2L, 202L, 5.00)) // zero variance -> no outliers
      .map { case (u, id, v) => (u, id, v, ts) }
      .toDF("user_id", "event_id", "value", "ts")
    val got = OlapQueries.anomalyReport(events).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(got === Array((1L, 6L, 1L, 106L), (2L, 2L, 0L, 0L)))
  }

  test("ev_anomaly on the corpus matches a driver-side integer recomputation") {
    val ev = graft.Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"),
        round(col("value") * 100).cast("long").as("v")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = ev.groupBy(_._1).map { case (u, es) =>
      val n = es.length.toLong
      val s1 = es.map(_._3).sum
      val s2 = es.map(e => e._3 * e._3).sum
      val out = es.filter { case (_, _, v) =>
        val d = n * v - s1; d * d > 4 * (n * s2 - s1 * s1)
      }
      u -> ((n, out.length.toLong, out.map(_._2).sum))
    }
    val got = OlapQueries.evAnomaly(spark, sf001).collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
  }

  // ---- ev_retention ---------------------------------------------------

  test("ev_retention matches a driver-side cohort recomputation") {
    val uw = graft.Tables.events(spark, sf001)
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("week"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val cohort = uw.groupBy(_._1).map { case (u, ws) => u -> ws.map(_._2).min }
    val expected = uw.groupBy { case (u, w) => (cohort(u), w - cohort(u)) }
      .map { case (k, xs) => k -> xs.length.toLong }
    val got = OlapQueries.evRetention(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === expected)
    // offset-0 cell is the cohort size; no cell exceeds it
    val sizes = cohort.groupBy(_._2).map { case (c, us) => c -> us.size.toLong }
    got.foreach { case ((c, off), n) =>
      assert(off >= 0)
      assert(n <= sizes(c), s"cohort $c offset $off exceeds cohort size")
    }
    sizes.foreach { case (c, sz) => assert(got((c, 0L)) === sz, s"cohort $c week 0") }
  }

  // ---- mm_dedup -------------------------------------------------------

  test("mm_dedup groups byte-identical payloads under the full md5") {
    def md5Hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).getBytes("UTF-8")))
    val expected = docs.groupBy(d => md5Hex(d._2)).map { case (fp, ds) =>
      fp -> ((ds.map(_._1).min, ds.length.toLong, ds.map(_._2.length).max.toLong))
    }
    val got = MultimodalQueries.mmDedup(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
    assert(got.values.map(_._2).sum === docs.length.toLong)
  }

  // ---- ta_doc_embed ---------------------------------------------------

  test("ta_doc_embed components equal a driver-side signed feature hash") {
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).trim.toLowerCase.split("\\s+").filter(_.nonEmpty)))
    val expected = docs.filter(_._2.nonEmpty).map { case (id, toks) =>
      val vec = new Array[Long](TextQueries.HashDim)
      toks.foreach { t =>
        val h = md5Long(s"17:$t")
        val b = (h % TextQueries.HashDim).toInt
        vec(b) += 1L - 2L * ((h >> 8) % 2)
      }
      id -> vec.mkString(",")
    }.toMap
    val got = TextQueries.taDocEmbed(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === expected)
  }

  // ---- j12_asof_nearest -----------------------------------------------

  test("j12_asof_nearest picks the closer side, ties to the earlier purchase") {
    def at(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ev = Seq(
      // (event_id, ts_sec, user, type, value)
      (1L, 100L, 1L, "purchase", 10.0), (2L, 300L, 1L, "purchase", 20.0),
      (11L, 90L, 1L, "click", 0.0), // before any purchase -> forward, gap 10s
      (12L, 150L, 1L, "click", 0.0), // back 50s vs fwd 150s -> back (10.0)
      (13L, 200L, 1L, "click", 0.0), // tie 100s both ways -> earlier (10.0)
      (14L, 400L, 1L, "click", 0.0), // after all -> back, gap 100s
      (21L, 50L, 2L, "click", 0.0)) // user with no purchases -> nulls
      .map { case (id, t, u, ty, v) => (id, at(t), u, ty, v) }
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = StreamQueries.asofNearest(ev).collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(2)) null else r.getDouble(2),
        if (r.isNullAt(3)) null else r.getLong(3)))
      .sortBy(_._1)
    assert(got === Array(
      (11L, 10.0, 10000000L),
      (12L, 10.0, 50000000L),
      (13L, 10.0, 100000000L),
      (14L, 20.0, 100000000L),
      (21L, null, null)))
  }

  // ---- o7_mom_change --------------------------------------------------

  test("o7_mom_change matches a driver-side decimal recomputation") {
    def asL(r: org.apache.spark.sql.Row, i: Int): Long =
      r.getAs[Number](i).longValue // int32/int64 varies by table generation
    val cust = graft.Tables.customer(spark, sf001)
      .select(col("c_custkey"), col("c_nationkey")).collect()
      .map(r => asL(r, 0) -> asL(r, 1)).toMap
    val nation = graft.Tables.nation(spark, sf001)
      .select(col("n_nationkey"), col("n_name")).collect()
      .map(r => asL(r, 0) -> r.getString(1)).toMap
    val orders = graft.Tables.orders(spark, sf001)
      .select(col("o_custkey"), year(col("o_orderdate")) * 12 + month(col("o_orderdate")),
        round(col("o_totalprice") * 100).cast("long")).collect()
      .map(r => (asL(r, 0), r.getInt(1), r.getLong(2)))
    val monthly = orders.groupBy { case (ck, ym, _) => (nation(cust(ck)), ym) }
      .map { case (k, os) => k -> os.map(_._3).sum } // exact cents
    val expected = monthly.groupBy(_._1._1).flatMap { case (_, cells) =>
      val sorted = cells.toSeq.sortBy(_._1._2)
      sorted.zipWithIndex.map { case (((nat, ym), cents), i) =>
        val prev = if (i == 0) None else Some(sorted(i - 1)._2)
        (nat, ym) -> ((cents / 100.0, prev.map(p => (cents - p) / 100.0)))
      }
    }
    val got = OlapQueries.o7MomChange(spark, sf001).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getDouble(2), if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    assert(got.keySet === expected.keySet)
    got.foreach { case (k, (rev, delta)) =>
      val (eRev, eDelta) = expected(k)
      assert(rev === eRev, s"revenue($k)")
      assert(delta === eDelta, s"delta($k)")
    }
  }

  // ---- a15_hll_union --------------------------------------------------

  test("a15_hll_union: merged sketch estimate bounds, overlap direction, determinism") {
    // exact distinct grams, corpus-wide and summed per source, from the
    // same shared gram stream the query sketches
    val grams = TextQueries.sharedGramStream(spark, sf001)
      .join(graft.Tables.documents(spark, sf001).select(col("doc_id"), col("source")),
        Seq("doc_id"))
    val exactUnion = grams.select(countDistinct(col("gram"))).head().getLong(0)
    val exactSum = grams.groupBy(col("source"))
      .agg(countDistinct(col("gram")).as("c"))
      .agg(sum(col("c"))).head().getLong(0)
    val nSources = graft.Tables.documents(spark, sf001)
      .select(countDistinct(col("source"))).head().getLong(0)
    def run() = OlapQueries.a15HllUnion(spark, sf001).head()
    val r = run()
    assert(r.getLong(0) === nSources)
    // p=7 ⇒ rsd ≈ 1.04/√128 ≈ 9.2%; allow 3σ. Per-source cardinalities
    // (~1100+ at sf0.001) all sit in the raw estimator's n ≥ 2.5·m=320
    // domain, as does the union.
    assert(math.abs(r.getLong(1) - exactUnion).toDouble / exactUnion <= 0.28,
      s"union estimate ${r.getLong(1)} vs exact $exactUnion")
    assert(math.abs(r.getLong(2) - exactSum).toDouble / exactSum <= 0.28,
      s"sum of per-source estimates ${r.getLong(2)} vs exact $exactSum")
    // cross-source overlap must point the right way: union ≤ sum — true
    // exactly, and with the shared-vocabulary corpus the gap is wide
    // enough (sum ≈ 1.8× union exactly) that 3σ noise cannot flip it
    assert(r.getLong(1) < r.getLong(2),
      s"union ${r.getLong(1)} must be below the per-source sum ${r.getLong(2)}")
    // register-wise-max union is merge-order independent
    val r2 = run()
    assert(r2.getLong(1) === r.getLong(1) && r2.getLong(2) === r.getLong(2))
  }

  // ---- dd_source_dup_rate ---------------------------------------------

  test("dd_source_dup_rate matches a driver-side corpus-wide dup recount") {
    def md5Hex15(s: String): Long = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString.take(15), 16)
    val docs = graft.Tables.documents(spark, sf001)
      .select(col("source"), col("text")).collect()
      .map(r => (r.getString(0),
        md5Hex15(r.getString(1).trim.toLowerCase.replaceAll("\\s+", " "))))
    val groupN = docs.groupBy(_._2).map { case (fp, xs) => fp -> xs.length }
    val expected = docs.groupBy(_._1).map { case (src, xs) =>
      src -> ((xs.length.toLong,
        xs.count(d => groupN(d._2) >= 2).toLong,
        xs.map(_._2).distinct.length.toLong))
    }
    val got = DedupQueries.ddSourceDupRate(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === expected)
  }

  // ---- u7_scd2 --------------------------------------------------------

  test("u7_scd2 collapses repeats, chains intervals, ties broken by change id") {
    val sqlDate = java.sql.Date.valueOf(_: String)
    val log = Seq(
      // key 1: A A B B A -> three history rows
      (1L, "A", "2024-01-01", 101L), (1L, "A", "2024-01-05", 102L),
      (1L, "B", "2024-02-01", 103L), (1L, "B", "2024-02-10", 104L),
      (1L, "A", "2024-03-01", 105L),
      // key 2: same-date tie, ordered by ok: X (ok 201) then Y (ok 202)
      (2L, "X", "2024-01-01", 201L), (2L, "Y", "2024-01-01", 202L))
      .map { case (k, p, d, ok) => (k, p, sqlDate(d), ok) }
      .toDF("cust_key", "priority", "valid_from", "ok")
    val got = OlapQueries.scd2History(log).collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getDate(2)).map(_.toString).orNull,
        Option(r.getDate(3)).map(_.toString).orNull, r.getInt(4)))
      .sortBy(x => (x._1, x._3, x._2))
    assert(got.filter(_._1 == 1L) === Seq(
      (1L, "A", "2024-01-01", "2024-02-01", 0),
      (1L, "B", "2024-02-01", "2024-03-01", 0),
      (1L, "A", "2024-03-01", null, 1)))
    assert(got.filter(_._1 == 2L) === Seq(
      (2L, "X", "2024-01-01", "2024-01-01", 0),
      (2L, "Y", "2024-01-01", null, 1)))
  }

  test("u7_scd2 on the corpus: one current row per key, chained intervals, no repeat runs") {
    val rows = OlapQueries.u7Scd2(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1),
        r.getDate(2).toString, Option(r.getDate(3)).map(_.toString), r.getInt(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (k, hist) =>
      assert(hist.count(_._5 == 1) === 1, s"key $k current-row count")
      val sorted = hist.sortBy(h => (h._3, h._4.getOrElse("9999-12-31")))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._4.contains(b._3), s"key $k interval chain broken")
          assert(a._2 != b._2 || a._3 == b._3, s"key $k kept a same-priority repeat")
        case _ => ()
      }
      assert(sorted.last._4.isEmpty)
    }
  }

  // ---- ta_fluency_outliers -------------------------------------------

  test("ta_fluency_outliers is the true per-source bottom-K of the bigram scores") {
    val got = TextQueries.taFluencyOutliers(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val scores = TextQueries.taBigramLm(spark, sf001)
      .select("doc_id", "avg_lp").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sources = graft.Tables.documents(spark, sf001)
      .select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // independent reference: sort each source's scored docs, take K
    val expect = scores.toSeq
      .map { case (id, lp) => (sources(id), id, lp) }
      .groupBy(_._1)
      .flatMap { case (src, rows) =>
        rows.sortBy(r => (r._3, r._2)).take(TextQueries.FluencyK)
          .zipWithIndex.map { case ((s0, id, lp), i) => (s0, id, lp, i + 1L) }
      }.toSet
    assert(got.toSet == expect)
    // structural: ranks contiguous from 1, never more than K per source
    got.groupBy(_._1).foreach { case (src, rows) =>
      assert(rows.length <= TextQueries.FluencyK, src)
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq, src)
    }
  }

  // ---- ev_gapfill -----------------------------------------------------

  test("ev_gapfill densifies the hour grid and forward-fills the last sum") {
    import java.sql.Timestamp
    val ev = Seq(
      (1L, Timestamp.valueOf("2024-01-01 00:10:00"), 1.50),
      (1L, Timestamp.valueOf("2024-01-01 00:40:00"), 2.25),
      (1L, Timestamp.valueOf("2024-01-01 03:05:00"), 4.00),
      (2L, Timestamp.valueOf("2024-01-01 02:00:00"), 9.99))
      .toDF("user_id", "ts", "value")
    val got = StreamQueries.gapfillHourly(ev).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2),
        r.getDouble(3))).toSet
    // hours 1 and 2 are gaps for user 1: n = 0, hour-0 revenue carried
    assert(got == Set(
      (1L, "2024-01-01 00:00:00.0", 2L, 3.75),
      (1L, "2024-01-01 01:00:00.0", 0L, 3.75),
      (1L, "2024-01-01 02:00:00.0", 0L, 3.75),
      (1L, "2024-01-01 03:00:00.0", 1L, 4.00),
      (2L, "2024-01-01 02:00:00.0", 1L, 9.99)))
  }

  test("ev_gapfill on the corpus: contiguous per-user grids, fills conserve sums") {
    val rows = StreamQueries.evGapfill(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2)))
    val byUser = rows.groupBy(_._1)
    byUser.foreach { case (u, rs) =>
      val hours = rs.map(_._2).sorted
      assert(hours.zip(hours.tail).forall { case (a, b) => b - a == 3600000L },
        s"user $u grid must be contiguous hourly")
      assert(rs.head._1 == u)
    }
    // observed event count is conserved through the densify
    val total = rows.map(_._3).sum
    val nEvents = graft.Tables.events(spark, sf001).count()
    assert(total == nEvents, "sum of per-bucket n equals the event count")
  }

  // ---- ev_cusum -------------------------------------------------------

  test("ev_cusum accumulates a sustained shift and matches the sequential recurrence") {
    import java.sql.Timestamp
    // 20 steady hours at 2 events, then a 4-hour surge at 50: k lands at
    // 12, h at 96, and the CUSUM (+38/hour in the surge) crosses h only
    // in the surge's later hours — accumulation, not a pointwise bound.
    val ev = (0 until 24).flatMap { h =>
      val n = if (h < 20) 2 else 50
      (0 until n).map(i =>
        ("click", Timestamp.valueOf(f"2024-01-01 $h%02d:${i + 1}%02d:00")))
    }.toDF("event_type", "ts")
    val got = StreamQueries.cusumHourly(ev).collect()
      .map(r => (r.getTimestamp(1).getHours, r.getLong(2), r.getLong(3), r.getInt(4)))
      .sortBy(_._1)
    // independent sequential reference: S_i = max(0, S_{i-1} + x_i - k)
    val xs = got.map(_._2)
    val mean = xs.sum / xs.length
    val k = mean + mean / StreamQueries.CusumSlackDiv + 1
    var s0 = 0L
    val ref = xs.map { x => s0 = math.max(0L, s0 + x - k); s0 }
    assert(got.map(_._3).toSeq == ref.toSeq,
      "prefix-sum/prefix-min closed form must equal the running-reset recurrence")
    val flagged = got.filter(_._4 == 1).map(_._1)
    assert(flagged.nonEmpty && flagged.forall(_ >= 20),
      s"drift must fire only after the shift, got hours ${flagged.toSeq}")
    assert(got.takeWhile(_._1 < 20).forall(_._4 == 0), "no false alarms before the shift")
  }

  // ---- ev_concurrency -------------------------------------------------

  test("ev_concurrency sweep line: constructed overlap peaks, half-open ends") {
    import java.sql.Timestamp
    def t(s: String) = Timestamp.valueOf(s)
    // A [10:00, 11:30), B [10:20, 10:40), C [10:40, 12:10): C starts
    // exactly when B ends -> ends-first keeps the 10:40 peak at 2.
    val sess = Seq(
      (t("2024-01-01 10:00:00"), t("2024-01-01 11:30:00")),
      (t("2024-01-01 10:20:00"), t("2024-01-01 10:40:00")),
      (t("2024-01-01 10:40:00"), t("2024-01-01 12:10:00")))
      .toDF("session_start", "session_end")
    val got = StreamQueries.concurrencyOf(sess).collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    assert(got == Map(
      "2024-01-01 10:00:00.0" -> 2L, // A, then A+B (peak 2; B's end at :40 before C's start)
      "2024-01-01 11:00:00.0" -> 1L, // A ends at 11:30 -> conc 1 just before
      "2024-01-01 12:00:00.0" -> 0L)) // C ends -> 0
  }

  test("ev_concurrency on the corpus equals a driver-side sweep, deltas conserve") {
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    val sess = graft.streaming.EventStreams.sessionCounts(
      graft.Tables.events(spark, sf001))
      .collect().map(r => (micros(r.getTimestamp(0)), micros(r.getTimestamp(1))))
    val pts = sess.flatMap { case (st, en) => Seq((st * 2 + 1, st, 1L), (en * 2, en, -1L)) }
      .sortBy(_._1)
    var c = 0L
    val perHour = scala.collection.mutable.Map[Long, Long]()
    pts.foreach { case (_, t, d) =>
      c += d
      val hour = t - t % 3600000000L
      perHour(hour) = math.max(perHour.getOrElse(hour, Long.MinValue), c)
    }
    assert(c == 0L, "every start has an end")
    val got = StreamQueries.evConcurrency(spark, sf001).collect()
      .map(r => r.getTimestamp(0).getTime * 1000L -> r.getLong(1)).toMap
    assert(got == perHour.toMap)
  }

  // ---- td_curriculum --------------------------------------------------

  test("td_curriculum phases partition the corpus in difficulty order") {
    val got = TextQueries.tdCurriculum(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(got.map(_._3).toSet == Set(1, 2, 3, 4), "all four phases in use")
    val ranges = got.groupBy(_._3).toSeq.sortBy(_._1)
      .map { case (p, rs) => (p, rs.map(_._2).min, rs.map(_._2).max) }
    ranges.sliding(2).foreach {
      case Seq((_, _, hi), (_, lo, _)) =>
        assert(hi < lo, s"phase token ranges must be disjoint and ordered: $ranges")
      case _ =>
    }
    // quartile balance: no phase under ~15% or over ~35% of the corpus
    val n = got.length
    ranges.foreach { case (p, _, _) =>
      val cnt = got.count(_._3 == p)
      assert(cnt * 100 >= n * 15 && cnt * 100 <= n * 35, s"phase $p size $cnt of $n")
    }
  }

  // ---- ta_ngram_novelty ----------------------------------------------

  test("ta_ngram_novelty counts first-seen shingles per document") {
    val docs = Seq(
      (0L, "a b c d"), // grams "a b c","b c d": both first here
      (1L, "a b c x"), // "a b c" seen in doc 0, "b c x" novel
      (2L, "a b c d"), // both grams seen
      (3L, "x y")) //     short doc: single whole-text gram, novel
      .toDF("doc_id", "text")
    val got = TextQueries.noveltyOf(TextQueries.gramStream(docs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == Set(
      (0L, 2L, 2L, 1000000L),
      (1L, 2L, 1L, 500000L),
      (2L, 2L, 0L, 0L),
      (3L, 1L, 1L, 1000000L)))
  }

  test("ta_ngram_novelty on the corpus: doc 0 fully novel, novel grams partition") {
    val got = TextQueries.taNgramNovelty(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val byDoc = got.map(r => r._1 -> r).toMap
    assert(byDoc(0L)._4 == 1000000L, "the first document is all-novel by definition")
    assert(got.forall { case (_, g, n, m) =>
      n <= g && m == 1000000L * n / g
    })
    // every distinct gram is novel in exactly one doc: sums must agree
    val totalNovel = got.map(_._3).sum
    val distinctGrams = TextQueries.gramStream(
      graft.Tables.documents(spark, sf001)).select("gram").distinct().count()
    assert(totalNovel == distinctGrams)
  }

  test("ta_cooccur equals a driver-side A-Priori recount, integer lift intact") {
    val docs = graft.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = docs.length.toLong
    val sets = docs.map { case (_, t) =>
      t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSet
    }
    val freq = sets.flatten.groupBy(identity)
      .map { case (k, v) => k -> v.size.toLong }
      .filter { case (_, c) => c >= n * TextQueries.CoMinSupPct / 100L }
    val pairCnt = collection.mutable.Map[(String, String), Long]().withDefaultValue(0L)
    sets.foreach { st =>
      val f = st.filter(freq.contains).toSeq.sorted
      for (i <- f.indices; j <- i + 1 until f.size) pairCnt((f(i), f(j))) += 1L
    }
    val want = pairCnt.toMap
      .filter { case (_, c) => c >= n * TextQueries.CoPairSupPct / 100L }
      .map { case ((a, b), c) =>
        (a, b, c, 1000000L * c * n / (freq(a) * freq(b)))
      }.toSet
    val got = TextQueries.taCooccur(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    assert(got.nonEmpty, "the corpus must produce frequent pairs or the op is untested")
  }

  test("ev_cum_uniques equals a driver-side first-seen recount; curve is monotone") {
    val events = graft.Tables.events(spark, sf001)
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000 / 86400))
    val firstDay = events.groupBy(_._1).map { case (_, es) => es.map(_._2).min }
    val perDay = firstDay.groupBy(identity)
      .map { case (d, ds) => d -> ds.size.toLong }.toSeq.sortBy(_._1)
    val want = perDay.scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (d, n)) =>
      (d, n, cum + n)
    }.drop(1).toSet
    val got = OlapQueries.evCumUniques(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == want)
    // final cumulative == total distinct users ever
    assert(got.map(_._3).max == events.map(_._1).distinct.length.toLong)
  }

  test("td_boilerplate == driver-side chunk-df recount; clean docs round-trip verbatim") {
    val docs = graft.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def chunk(t: String): Seq[String] =
      t.split(" ", -1).grouped(10).map(_.mkString(" ")).toSeq
    val chunked = docs.map { case (id, t) => id -> chunk(t) }
    val df = chunked.flatMap { case (id, cs) => cs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (p, xs) => p -> xs.map(_._2).distinct.size }
    val want = chunked.map { case (id, cs) =>
      val kept = cs.filter(c => df(c) < TextQueries.BoilerDfMin)
      (id, cs.size.toLong, cs.count(c => df(c) >= TextQueries.BoilerDfMin).toLong,
        kept.mkString(" "))
    }.toSet
    val got = TextQueries.tdBoilerplate(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSet
    assert(got == want)
    // a document with zero boilerplate chunks must survive byte-identical
    val clean = got.filter(_._3 == 0L)
    assert(clean.nonEmpty)
    val byId = docs.toMap
    clean.foreach { case (id, _, _, t) => assert(t == byId(id)) }
  }

  test("ev_rolling_distinct equals a brute-force trailing-7-day recount on every day") {
    val ud = graft.Tables.events(spark, sf001)
      .select("user_id", "ts").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 1000 / 86400))
      .distinct
    val (lo, hi) = (ud.map(_._2).min, ud.map(_._2).max)
    val want = (lo to hi).map { d =>
      val dau = ud.count(_._2 == d).toLong
      val wau = ud.filter(u => u._2 >= d - 6 && u._2 <= d).map(_._1).distinct.length.toLong
      (d, dau, wau, if (wau > 0) 1000000L * dau / wau else 0L)
    }.toSet
    val got = OlapQueries.evRollingDistinct(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    // every window is at least as populated as its last day
    got.foreach { case (_, dau, wau, _) => assert(wau >= dau) }
  }

  test("ev_transitions equals a driver-side per-user resort; rows are row-stochastic") {
    val ev = graft.Tables.events(spark, sf001)
      .select("user_id", "ts", "event_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getLong(2), r.getString(3)))
    val pairs = ev.groupBy(_._1).iterator.flatMap { case (_, es) =>
      es.sortBy(e => (e._2, e._3)).map(_._4).toSeq.sliding(2)
        .collect { case Seq(a, b) => (a, b) }
    }.toSeq
    val n = pairs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val tot = pairs.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val want = n.map { case ((a, b), c) =>
      (a, b, c, 1000000L * c / tot(a)) }.toSet
    val got = StreamQueries.evTransitions(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    assert(got == want)
    // each from-row's floored micro-probabilities sum to 10^6 minus at
    // most (#targets - 1) units of floor loss
    got.groupBy(_._1).foreach { case (from, rows) =>
      val s = rows.toSeq.map(_._4).sum
      assert(s <= 1000000L && s > 1000000L - rows.size, s"$from: $s")
    }
  }

  // ---- ev_attribution -------------------------------------------------

  test("ev_attribution splits credit across in-window clicks; orphans land in -1") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // user 1: purchase 10.00 at 12:00 with clicks at 11:10 (hour 11) and
    //         11:59 (hour 11) in-window, 10:59 OUT (> 1h before);
    // user 2: purchase 5.00 at 09:30, no clicks -> unattributed;
    // user 1's second purchase 2.40 at 11:30: clicks 10:59 (hour 10)
    //         AND 11:10 (hour 11) both in its (10:30, 11:30] window ->
    //         1_200_000 micros each.
    val ev = Seq(
      (1L, ts("2024-01-01 10:59:00"), 1L, "click", 0.0),
      (2L, ts("2024-01-01 11:10:00"), 1L, "click", 0.0),
      (3L, ts("2024-01-01 11:59:00"), 1L, "click", 0.0),
      (4L, ts("2024-01-01 12:00:00"), 1L, "purchase", 10.0),
      (5L, ts("2024-01-01 11:30:00"), 1L, "purchase", 2.40),
      (6L, ts("2024-01-01 09:30:00"), 2L, "purchase", 5.0),
      (7L, ts("2024-01-01 09:00:00"), 2L, "view", 0.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val got = StreamQueries.attributionOf(ev).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // purchase 4: 10e6 div 2 = 5_000_000 to each of clicks 2,3 (hour 11)
    // purchase 5: floor(2.4·1e6) = 2_400_000 (the double product rounds
    //   to exactly 2400000.0) div 2 clicks = 1_200_000 each
    assert(got == Set((11L, 3L, 5000000L + 5000000L + 1200000L),
      (10L, 1L, 1200000L), (-1L, 1L, 5000000L)))
  }

  test("ev_attribution on the corpus conserves credit vs a driver recount") {
    val ev = graft.Tables.events(spark, sf001)
      .select("event_id", "user_id", "ts", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2).getTime * 1000L +
        r.getTimestamp(2).getNanos / 1000L % 1000L, r.getString(3), r.getDouble(4)))
    def micros(t: java.sql.Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L
    val rows = graft.Tables.events(spark, sf001)
      .select("event_id", "user_id", "ts", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), micros(r.getTimestamp(2)),
        r.getString(3), r.getDouble(4)))
    val clicks = rows.filter(_._4 == "click")
    val purchases = rows.filter(_._4 == "purchase")
    val want = scala.collection.mutable.Map[Long, (Long, Long)]()
    purchases.foreach { case (_, uid, pt, _, v) =>
      val vm = math.floor(v * 1000000L).toLong
      val ks = clicks.filter(c => c._2 == uid && c._3 <= pt &&
        c._3 > pt - 3600000000L)
      if (ks.isEmpty) {
        val (n0, c0) = want.getOrElse(-1L, (0L, 0L))
        want(-1L) = (n0 + 1L, c0 + vm)
      } else ks.foreach { c =>
        val hour = (c._3 / 3600000000L) % 24L
        val (n0, c0) = want.getOrElse(hour, (0L, 0L))
        want(hour) = (n0 + 1L, c0 + vm / ks.size)
      }
    }
    val got = StreamQueries.evAttribution(spark, sf001).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == want.toMap)
    assert(ev.nonEmpty)
  }

  // ---- td_winsorize ---------------------------------------------------

  test("td_winsorize clamps at exact nearest-rank P1/P99 on a hand profile") {
    // source s: lengths 1..100 once each -> n=100, k_lo=⌊99/100⌋+1=1 (P1
    // = 1st smallest = 1), k_hi=⌊99·99/100⌋+1=99 (P99 = 99th = 99); so
    // only len=100 clamps down, nothing clamps up.
    val docs = (1 to 100).map(i => ("s", i.toLong)).toDF("source", "n_chars")
    val got = TextQueries.winsorizeOf(docs).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6)))
    val sumW = (1 to 99).map(_.toLong).sum + 99L
    assert(got.toSeq == Seq(("s", 1L, 99L, 0L, 1L, sumW, 100L)))
  }

  test("td_winsorize on the corpus equals a driver-side percentile recount") {
    val docs = graft.Tables.documents(spark, sf001)
      .select("source", "n_chars").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val want = docs.groupBy(_._1).map { case (src, ds) =>
      val lens = ds.map(_._2).sorted
      val n = lens.length
      val p01 = lens(((n - 1) / 100 + 1) - 1)
      val p99 = lens((((n - 1) * 99) / 100 + 1) - 1)
      (src, p01, p99, lens.count(_ < p01).toLong, lens.count(_ > p99).toLong,
        lens.map(l => math.max(p01, math.min(p99, l))).sum, n.toLong)
    }.toSet
    val got = TextQueries.tdWinsorize(spark, sf001).collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSet
    assert(got == want)
  }

  // ---- ta_keyness -----------------------------------------------------

  test("ta_keyness ranks source-exclusive tokens top, smoothing keeps them finite") {
    val toks = (Seq.fill(5)(("a", "zonly")) ++ Seq.fill(50)(("a", "common")) ++
      Seq.fill(50)(("b", "common")) ++ Seq.fill(7)(("b", "bword")))
      .toDF("source", "tok")
    val n = 112L
    val got = TextQueries.keynessOf(toks, n).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // source a: src_total=55, rest=57. zonly: a=5, elsewhere 0 ->
    //   ratio = 1e6·5·57 div (1·55) = 5181818; common: a=50, c=50 ->
    //   ratio = 1e6·50·57 div (51·55) = 1016042
    val aRows = got.filter(_._1 == "a").sortBy(_._2).toSeq
    assert(aRows == Seq(("a", 1L, "zonly", 5L, 0L, 5181818L),
      ("a", 2L, "common", 50L, 50L, 1016042L)))
    // source b: bword 7 exclusive beats shared common
    val bRows = got.filter(_._1 == "b").sortBy(_._2)
    assert(bRows.head._3 == "bword" && bRows(1)._3 == "common")
  }

  test("ta_keyness on the corpus equals a driver-side recount") {
    val docs = graft.Tables.documents(spark, sf001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val toks = docs.flatMap { case (s, t) =>
      t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).map(s -> _) }
    val nAll = toks.length.toLong
    val counts = toks.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val tokTotal = counts.groupBy(_._1._2).map { case (t, m) => t -> m.values.sum }
    val srcTotal = counts.groupBy(_._1._1).map { case (s, m) => s -> m.values.sum }
    val want = counts.toSeq.filter(_._2 >= 5L).map { case ((s, t), a) =>
      val ratio = (BigInt(1000000) * a * (nAll - srcTotal(s)) /
        (BigInt(tokTotal(t) - a + 1) * srcTotal(s))).toLong
      (s, t, a, tokTotal(t) - a, ratio)
    }.groupBy(_._1).flatMap { case (_, rows) =>
      rows.sortBy(r => (-r._5, r._2)).take(10).zipWithIndex.map {
        case ((s, t, a, c, ratio), i) => (s, (i + 1).toLong, t, a, c, ratio) }
    }.toSet
    val got = TextQueries.taKeyness(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == want)
  }

  // ---- ta_index_delta -------------------------------------------------

  private def deltaMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getLong(6), r.getBoolean(7))).toMap

  test("ta_index_delta: write set on a constructed index/batch split") {
    // index: docs 0,2 — batch: docs 1,3. 'b' is index-only (untouched,
    // must NOT appear); 'd' is batch-new; 'a'/'c' are updates.
    val docs = Seq(
      (0L, "a a b c"), (2L, "a b"),
      (1L, "a d"), (3L, "c c d a"))
      .toDF("doc_id", "text")
    val got = deltaMap(TextQueries.indexDeltaOf(
      TextQueries.tokTfStream(docs).withColumn("indexed", col("doc_id") % 2 === 0)))
    assert(got.keySet == Set("a", "c", "d"), "only batch-touched terms emit")
    assert(got("a") == ((2L, 2L, 4L, 3L, 2L, 5L, false)))
    assert(got("c") == ((1L, 1L, 2L, 1L, 2L, 3L, false)))
    assert(got("d") == ((0L, 2L, 2L, 0L, 2L, 2L, true)), "new term flagged")
  }
}

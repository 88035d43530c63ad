package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark
import graft.functions.{Fns, Hashing, SketchExprs, TextExprs, TextOps}
import graft.operators.SkewJoin

/** Property-based checks over generated inputs (seeded ScalaCheck sweeps,
  * same style as Format12gSpec) for the invariants the reference asserts
  * operationally (SURVEY §5): NA-count conservation across the suffix
  * strip (V17), sketch determinism/shape, and the salted-join ≡ plain-join
  * equivalence.
  */
class PropertiesSpec extends AnyFunSuite {
  import spark.implicits._

  private val word: Gen[String] =
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.mkString.take(8))
  private val maybeText: Gen[Option[String]] = Gen.frequency(
    4 -> Gen.listOf(word).map(ws => Some(ws.mkString(" "))),
    1 -> Gen.const(None))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).map(i => g.pureApply(Gen.Parameters.default, Seed(i.toLong)))

  test("V17 property: suffix strip conserves the per-frame NA count") {
    samples(Gen.listOfN(12, Gen.zip(maybeText, maybeText)), 8).foreach { rows =>
      val df = rows.toDF("CANCER_TYPE", "AMADEUS_STUDY")
      def naCount(d: org.apache.spark.sql.DataFrame): Long =
        d.select(d.columns.map(c =>
          sum(when(col(c).isNull, 1L).otherwise(0L))).reduce(_ + _).as("n"))
          .head().getLong(0)
      assert(naCount(Fns.stripSuffixesFromStringColumns(df)) == naCount(df))
    }
  }

  test("cbio sink property: arbitrary cells (tabs/quotes/newlines/doubles) round-trip") {
    // Fuzz the DSv2 write/read pair: whatever the writer quotes, the
    // reader must unquote to the identical value — including separators,
    // quote runs, CR/LF, unicode, and Format12g double renderings.
    val nastyChar: Gen[String] = Gen.frequency(
      8 -> Gen.asciiPrintableChar.map(_.toString),
      2 -> Gen.oneOf("\t", "\n", "\r", "\"", "\r\n"),
      1 -> Gen.oneOf("é", "…", "😀"))
    val cell: Gen[Option[String]] = Gen.frequency(
      6 -> Gen.listOf(nastyChar).map(cs => Some(cs.mkString)),
      1 -> Gen.const(None))
    val num: Gen[Option[Double]] = Gen.frequency(
      5 -> Gen.chooseNum(-1e6, 1e6).map(Some(_)),
      1 -> Gen.oneOf(Double.NaN, Double.PositiveInfinity,
        Double.NegativeInfinity, 0.0, -0.0).map(Some(_)),
      1 -> Gen.const(None))
    samples(Gen.listOfN(20, Gen.zip(cell, num)), 6).zipWithIndex.foreach {
      case (rows, i) =>
        val dir = java.nio.file.Files
          .createTempDirectory(s"cbio-prop-$i").toString + "/ds"
        val df = rows.zipWithIndex
          .map { case ((t, v), id) => (id.toLong, t, v) }
          .toDF("id", "txt", "num")
        df.repartition(3).write.format("cbio").mode("append").save(dir)
        val cbio = spark.read.format("cbio").load(dir)
        val back = cbio
          .collect().map(r => r.getAs[Double]("id") ->
            ((Option(r.getAs[String]("txt")), Option(r.getAs[Any]("num"))))).toMap
        // one dialect: the plain TSV scan under the header-block schema
        // reads the same rows
        val viaTsv = graft.sources.Tsv.read(spark, dir, comment = Some('#'),
          schema = Some(cbio.schema), multiLine = true)
        def rowsOf(d: org.apache.spark.sql.DataFrame) =
          d.collect().map(_.toSeq.map(String.valueOf)).sortBy(_.head).toSeq
        assert(rowsOf(viaTsv) == rowsOf(cbio))
        rows.zipWithIndex.foreach { case ((t, v), id) =>
          val (bt, bv) = back(id.toDouble)
          // empty string and null both serialize to an empty cell — the
          // format (like pandas to_csv) cannot tell them apart
          assert(bt == t.filter(_.nonEmpty), s"row $id text: got $bt want $t")
          (v, bv) match {
            case (Some(d), Some(b: Double)) =>
              // reader parses what Format12g wrote: 12 significant digits
              if (d.isNaN) assert(b.isNaN, s"row $id num: got $b want NaN")
              else if (d.isInfinite) assert(b == d, s"row $id num: got $b want $d")
              else assert(b == graft.functions.Format12gUtil.formatString(d).toDouble,
                s"row $id num: got $b want $d")
            case (None, None) => ()
            case other => fail(s"row $id num presence mismatch: $other")
          }
        }
    }
  }

  test("ws_split property: equals filter(split(trim(s), \\s+)) on generated text") {
    // the compiled tokenizer must agree with the regex form it replaced
    // everywhere, not just on the corpus the ta_vocab oracle covers —
    // whitespace varieties (tab/LF/CR/FF/VT), runs, unicode, blanks
    val piece: Gen[String] = Gen.frequency(
      6 -> Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(6)),
      3 -> Gen.oneOf(" ", "\t", "\n", "\r", "\f", "", "  ", " \t\n"),
      1 -> Gen.oneOf("é…", "日本", "😀", ""))
    val textGen = Gen.listOf(piece).map(_.mkString)
    val texts = samples(textGen, 400)
    val df = texts.toDF("t")
    val viaKernel = df.select(TextExprs.wsSplit(col("t")).as("a"))
      .collect().map(_.getSeq[String](0))
    val viaRegex = df.select(
      filter(split(trim(col("t")), "\\s+"), x => length(x) > 0).as("a"))
      .collect().map(_.getSeq[String](0))
    viaKernel.zip(viaRegex).zip(texts).foreach { case ((k, r), t) =>
      assert(k == r, s"ws_split mismatch on: '${t.replace("\n", "\\n")}'")
    }
  }

  test("doc_vec_hash property: equals the explode + conditional-sum pipeline") {
    import graft.queries.TextQueries.HashDim
    val piece: Gen[String] = Gen.frequency(
      6 -> Gen.nonEmptyListOf(Gen.alphaNumChar).map(_.mkString.take(6)),
      3 -> Gen.oneOf(" ", "\t", "\n", "\r", "\f", "", "  ", " \t\n"),
      1 -> Gen.oneOf("é…", "日本", "😀", ""))
    val textGen = Gen.listOf(piece).map(_.mkString)
    val texts = samples(textGen, 300)
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val viaKernel = df.select(col("doc_id"),
      TextExprs.docVecHash(lower(trim(col("text"))), HashDim, 17).as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // the explode/aggregate form it replaced (token-less docs: zero vec)
    val h = graft.functions.Hashing.md5LongSeeded(17, col("tok"))
    val comps = (0 until HashDim).map(i =>
      sum(when(col("b") === i, col("sgn")).otherwise(0L)).cast("long").as(s"v$i"))
    val viaAgg = df
      .select(col("doc_id"), explode(TextExprs.wsSplit(lower(trim(col("text"))))).as("tok"))
      .select(col("doc_id"), pmod(h, lit(HashDim.toLong)).as("b"),
        (lit(1L) - lit(2L) * pmod(shiftright(h, 8), lit(2L))).as("sgn"))
      .groupBy(col("doc_id")).agg(comps.head, comps.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to HashDim).map(r.getLong).toSeq).toMap
    texts.indices.foreach { i =>
      val expect = viaAgg.getOrElse(i.toLong, Seq.fill(HashDim)(0L))
      assert(viaKernel(i.toLong) == expect,
        s"doc_vec_hash mismatch on: '${texts(i).replace("\n", "\\n")}'")
    }
  }

  test("md5long60 property: equals the composed md5LongSeeded on generated strings") {
    val strGen = Gen.listOf(Gen.frequency(
      8 -> Gen.asciiPrintableChar.map(_.toString),
      1 -> Gen.oneOf("é", "…", "😀", ":"),
      1 -> Gen.const(""))).map(_.mkString)
    val rows = samples(strGen, 300)
    val df = rows.toDF("t")
    Seq(0, 7, 99).foreach { seed =>
      val both = df.select(
        SketchExprs.md5Long60(col("t"), seed).as("k"),
        Hashing.md5LongSeeded(seed, col("t")).as("c")).collect()
      both.zip(rows).foreach { case (r, t) =>
        assert(r.getLong(0) == r.getLong(1), s"md5long60($seed) mismatch on: '$t'")
      }
    }
  }

  test("md5long60_raw property: equals the BUILTIN conv∘substring∘md5 chain on generated strings") {
    // r14 lock: Hashing.md5Long delegates to the compiled kernel; this
    // pins it to the original builtin chain (the form every DuckDB
    // oracle mirrors), so a kernel regression cannot silently shift
    // every fingerprint/sketch query at once.
    import org.apache.spark.sql.functions.{conv, md5, substring}
    val strGen = Gen.listOf(Gen.frequency(
      8 -> Gen.asciiPrintableChar.map(_.toString),
      1 -> Gen.oneOf("é", "…", "😀", ":"),
      1 -> Gen.const(""))).map(_.mkString)
    val rows = samples(strGen, 300)
    val df = rows.toDF("t")
    val both = df.select(
      Hashing.md5Long(col("t")).as("k"),
      conv(substring(md5(col("t")), 1, 15), 16, 10).cast("long").as("c")).collect()
    both.zip(rows).foreach { case (r, t) =>
      assert(r.getLong(0) == r.getLong(1), s"md5long60_raw mismatch on: '$t'")
    }
  }

  test("winnow property: non-empty, ascending-distinct, in [0, M)") {
    samples(Gen.listOf(word).map(_.mkString(" ")), 30).foreach { text =>
      val fps = TextOps.winnowFingerprints(
        org.apache.spark.unsafe.types.UTF8String.fromString(text)).toSeq
      assert(fps.nonEmpty, s"empty fingerprints for '$text'")
      assert(fps == fps.sorted.distinct, s"not ascending-distinct for '$text'")
      assert(fps.forall(fp => fp >= 0 && fp < TextOps.WinnowM))
    }
  }

  test("codepoint decoder property: equals java.lang.String.codePoints on arbitrary unicode") {
    val anyString: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> Gen.asciiPrintableChar.map(_.toString),
      2 -> Gen.oneOf("é", "ü", "√", "∑", "…", "—").map(identity[String]),
      1 -> Gen.oneOf("😀", "🚀", "𝔘").map(identity[String]), // surrogate pairs
      1 -> Gen.const("\n"))).map(_.mkString)
    samples(anyString, 40).foreach { s =>
      val got = TextOps.codepoints(
        s.getBytes(java.nio.charset.StandardCharsets.UTF_8)).toSeq
      val expected = s.codePoints().toArray.toSeq
      assert(got == expected, s"decoder mismatch on '$s'")
    }
  }

  test("token-rep-stats property: kernel equals driver-side token accounting on generated text") {
    // includes multi-space runs, leading/trailing whitespace, repeats
    val messy: Gen[String] = Gen.listOf(Gen.frequency(
      6 -> word, 2 -> Gen.const(""), 1 -> Gen.oneOf("é", "ü"),
      2 -> Gen.const("rep")))
      .map(_.mkString(" ")).map(s => "  " + s + " ")
    samples(messy, 40).foreach { raw =>
      val s = raw.toLowerCase
      val got = TextOps.tokenRepStats(
        org.apache.spark.unsafe.types.UTF8String.fromString(s)).toSeq
      val toks = s.split("\\s+", -1).filter(_.nonEmpty).toSeq
      val freq = toks.groupBy(identity).view.mapValues(_.size)
      val bigrams = if (toks.size < 2) Seq.empty
        else toks.sliding(2).map(_.mkString(" ")).toSeq
      val expected = Seq(toks.size, freq.size,
        if (freq.isEmpty) 0 else freq.values.max, bigrams.distinct.size)
      assert(got == expected, s"mismatch on '$s': $got != $expected")
    }
  }

  test("word-gram-hashes property: count and distinctness match the string grams") {
    // kernel runs on normalized text (single spaces); grams with n > 1
    // are distinct exactly when their string forms are
    val norm: Gen[String] =
      Gen.listOf(Gen.frequency(5 -> word, 1 -> Gen.const("dup")))
        .map(_.mkString(" "))
    for (n <- Seq(2, 3)) samples(norm, 30).foreach { s =>
      val got = TextOps.wordGramHashes(
        org.apache.spark.unsafe.types.UTF8String.fromString(s), n).toSeq
      val toks = s.split(" ", -1).toSeq
      val grams = if (toks.size < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      assert(got.size == grams.size, s"count mismatch on '$s' n=$n")
      assert(got.distinct.size == grams.distinct.size,
        s"hash distinctness must mirror gram distinctness on '$s' n=$n")
    }
  }

  test("minhash property: signature k is the min of the seed-k shingle hashes") {
    samples(Gen.nonEmptyListOf(word), 8).foreach { shingles =>
      val df = Seq(shingles).toDF("sh")
      val sigs = df.select(SketchExprs.minhashSigs(col("sh"), 4).as("s"))
        .head().getSeq[Long](0)
      val expected = (0 until 4).map { k =>
        df.select(array_min(transform(col("sh"),
          x => Hashing.md5LongSeeded(k, x))).as("m")).head().getLong(0)
      }
      assert(sigs == expected)
    }
  }

  test("salted-join property: equals the plain join on generated skewed data") {
    val keysGen =
      Gen.listOfN(60, Gen.frequency(8 -> Gen.const(1), 2 -> Gen.choose(2, 5)))
    samples(keysGen, 4).foreach { keys =>
      val left = keys.zipWithIndex.toDF("k", "v")
      val right = (1 to 5).map(k => (k, s"dim$k")).toDF("k", "name")
      val plain = left.join(right, Seq("k")).select("k", "v", "name")
        .collect().map(_.toSeq).toSet
      val salted = SkewJoin.saltedJoin(left, right, Seq("k"), factor = 4)
        .select("k", "v", "name").collect().map(_.toSeq).toSet
      assert(salted == plain)
    }
  }

  test("merge property: upsert result = base - deletes - updated_keys + changes") {
    val keyGen = Gen.chooseNum(1L, 60L)
    samples(Gen.zip(
      Gen.listOfN(40, Gen.zip(keyGen, Gen.chooseNum(1.0, 99.0))),
      Gen.listOfN(15, Gen.zip(keyGen, Gen.oneOf("insert", "update", "delete"),
        Gen.chooseNum(100.0, 199.0)))), 6).foreach { case (baseRows, changeRows) =>
      val base = baseRows.distinctBy(_._1).toDF("k", "v")
      // inserts must be NEW keys; updates/deletes existing — filter to the
      // valid change set (a real CDC feed has this contract)
      val baseKeys = baseRows.map(_._1).toSet
      val changes = changeRows.distinctBy(_._1).filter {
        case (k, "insert", _) => !baseKeys.contains(k)
        case (k, _, _)        => baseKeys.contains(k)
      }.toDF("k", "op", "nv")
      val merged = base.join(changes, Seq("k"), "full_outer")
        .filter(!(col("op") <=> lit("delete")))
        .select(col("k"), coalesce(col("nv"), col("v")).as("v"))
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val cs = changes.collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      val expected =
        base.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap --
          cs.collect { case (k, "delete", _) => k } ++
          cs.collect { case (k, op, nv) if op != "delete" => k -> nv }
      assert(merged == expected)
    }
  }

  test("rollup property: every subtotal equals the sum of its children") {
    samples(Gen.listOfN(60,
      Gen.zip(Gen.oneOf("a", "b", "c"), Gen.chooseNum(0, 4), Gen.chooseNum(1L, 9L))), 5)
      .foreach { rows =>
        val df = rows.toDF("g1", "g2", "x")
        val cube = df.rollup(col("g1"), col("g2"))
          .agg(sum(col("x")).as("s"),
            grouping(col("g1")).as("gg1"), grouping(col("g2")).as("gg2"))
          .collect()
        val leaves = cube.filter(r => r.getAs[Byte]("gg1") == 0 && r.getAs[Byte]("gg2") == 0)
        val mids = cube.filter(r => r.getAs[Byte]("gg1") == 0 && r.getAs[Byte]("gg2") == 1)
        val grand = cube.filter(r => r.getAs[Byte]("gg1") == 1 && r.getAs[Byte]("gg2") == 1)
        mids.foreach { m =>
          val g1 = m.getAs[String]("g1")
          val kids = leaves.filter(_.getAs[String]("g1") == g1).map(_.getAs[Long]("s")).sum
          assert(m.getAs[Long]("s") == kids, s"subtotal($g1) != sum of children")
        }
        assert(grand.length == 1 &&
          grand.head.getAs[Long]("s") == leaves.map(_.getAs[Long]("s")).sum)
      }
  }

  test("range-join property: binned rewrite ≡ naive join on random intervals") {
    import graft.plans.BinnedRangeJoin
    val pts = Gen.listOfN(40, Gen.chooseNum(-500L, 500L))
    val ivs = Gen.listOfN(15, Gen.zip(Gen.chooseNum(-500L, 500L),
      Gen.chooseNum(-100L, 100L))) // (lo, signed length) — some inverted
    samples(Gen.zip(pts, ivs), 5).zipWithIndex.foreach { case ((ps, is), i) =>
      val points = ps.toDF("p")
      val intervals = is.zipWithIndex
        .map { case ((lo, len), id) => (id.toLong, lo, lo + len) }
        .toDF("iv_id", "lo", "hi")
      def run() = points
        .join(intervals, col("p") >= col("lo") && col("p") <= col("hi"))
        .collect().map(r => (r.getLong(1), r.getLong(0))).sorted.toSeq
      // rule is session-wide via GraftExtensions; baseline = opt-out flag
      spark.conf.set(BinnedRangeJoin.EnabledKey, "false")
      val naive = try run() finally spark.conf.unset(BinnedRangeJoin.EnabledKey)
      spark.conf.set(BinnedRangeJoin.BinWidthKey, Seq("7", "64", "1000")(i % 3))
      try assert(run() == naive, s"sample $i diverged")
      finally spark.conf.unset(BinnedRangeJoin.BinWidthKey)
    }
  }

  test("prefix-sum property: distributed ≡ sequential for any data and partitioning") {
    import graft.operators.PrefixSum
    val gen = Gen.zip(
      Gen.listOfN(60, Gen.chooseNum(-10000L, 10000L)).map(_.distinct),
      Gen.chooseNum(1, 6))
    samples(gen, 5).foreach { case (ids, parts) =>
      val rows = ids.map(id => (id, math.abs(id) % 7))
      val got = PrefixSum
        .withRunningSum(rows.toDF("id", "w"), "id", "w", "cum", numPartitions = parts)
        .select(col("id"), col("cum")).as[(Long, Long)].collect().toMap
      var acc = 0L
      val want = rows.sortBy(_._1).map { case (id, w) => acc += w; id -> acc }.toMap
      assert(got == want, s"diverged at parts=$parts n=${ids.length}")
    }
  }

  test("chunk property: coverage, stride starts, and tail rule for any token count") {
    import graft.queries.TextQueries.{ChunkWindow => W, ChunkStride => S}
    val ns = samples(Gen.chooseNum(1, 400), 12).distinct
    val docs = ns.zipWithIndex.map { case (n, i) =>
      (i.toLong, Seq.fill(n)("w").mkString(" "))
    }
    val got = graft.queries.TextQueries.chunkSpans(docs.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sortBy(_._1) }
    ns.zipWithIndex.foreach { case (n, i) =>
      val want = (0L until n.toLong by S)
        .filter(s => s == 0 || s < n - W + S)
        .map(s => (s / S, s, math.min(s + W, n.toLong), math.min(s + W, n.toLong) - s))
      assert(got(i.toLong).toSeq === want, s"n=$n")
    }
  }

  test("rate-limit property: SQL fold equals a driver-side token bucket on random timelines") {
    import graft.queries.StreamQueries.{RlCapacity, RlRefillUs}
    val gen = Gen.listOfN(40, Gen.zip(Gen.chooseNum(1L, 4L), Gen.chooseNum(0L, 600L)))
    samples(gen, 4).foreach { raw =>
      val events = raw.zipWithIndex.map { case ((u, sec), i) =>
        (u, new java.sql.Timestamp(1700000000000L + sec * 1000L), i.toLong)
      }
      val got = graft.queries.StreamQueries.rateLimit(
          events.toDF("user_id", "ts", "event_id")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      val cap = RlCapacity * RlRefillUs
      val want = events.groupBy(_._1).map { case (u, es) =>
        val sorted = es.map(e => (e._2.getTime * 1000L, e._3)).sortBy(identity)
        var credit = cap; var prev = -1L; var allowed = 0L
        sorted.foreach { case (t, _) =>
          val pre = math.min(cap, credit + (if (prev == -1L) 0L else t - prev))
          if (pre >= RlRefillUs) { allowed += 1; credit = pre - RlRefillUs }
          else credit = pre
          prev = t
        }
        u -> ((sorted.length.toLong, allowed, sorted.length - allowed))
      }
      assert(got === want)
    }
  }
}

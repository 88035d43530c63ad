package graft.sources

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The mock-service storage behind j5_live_annotate: a Spark-built
  * sorted shard store probed by mmap binary search. The lock here is
  * exactness — every built key resolves to its value, every absent key
  * to None — across shard boundaries, at the extremes, and for the
  * empty store (which is what makes the live-annotate face
  * bit-identical to the broadcast-join face at any scale).
  */
class KeyedStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def freshDir(): Path = {
    val d = Files.createTempDirectory("keyed-store-spec-")
    d.resolve("store") // build target must not pre-exist
  }

  test("build + lookup: every key exact, misses None, across shards") {
    val n = 5000
    // string-sorted keys ("10" < "9") — the store must agree with
    // Spark's orderBy on the cast key, not numeric order
    val kv = (0 until n).map(i => (i.toLong, s"val-$i"))
    val dir = freshDir()
    // 8 output shards via repartition at build time
    KeyedStore.build(kv.toDF("k", "v").repartition(8), "k", "v", dir)
    val r = KeyedStore.open(dir.toString)
    (0 until n).foreach { i =>
      assert(r.lookup(i.toString) == Some(s"val-$i"), s"key $i")
    }
    assert(r.lookup("-1").isEmpty, "below every shard")
    assert(r.lookup((2L * n).toString).isEmpty)
    assert(r.lookup("").isEmpty, "empty probe key")
    assert(r.lookup("val-7").isEmpty, "a value is not a key")
    // probe keys lexicographically between real keys
    assert(r.lookup("10x").isEmpty)
    assert(r.lookup("099").isEmpty)
  }

  test("empty table -> empty store -> all lookups miss") {
    val dir = freshDir()
    KeyedStore.build(Seq.empty[(Long, String)].toDF("k", "v"), "k", "v", dir)
    val r = KeyedStore.open(dir.toString)
    assert(r.lookup("anything").isEmpty)
  }

  test("null-valued keys are NOT stored (absent ≡ null-annotated); " +
    "rebuild is a no-op") {
    // built once per ident through its owner, as j5_live_annotate builds it
    val ident = s"keyed-store-spec:${java.util.UUID.randomUUID()}"
    val df = Seq((1L, "one"), (2L, null.asInstanceOf[String]), (3L, "three"))
      .toDF("k", "v")
    val dir = DurableIndex.once("graft-keyed-store-spec", ident)(KeyedStore.build(df, "k", "v", _))
    val r = KeyedStore.open(dir.toString)
    assert(r.lookup("1") == Some("one"))
    // a key whose value is NULL behaves exactly like an absent key —
    // under the broadcast-join face both produce a null annotation, so
    // the live face must report a miss, never Some("")
    assert(r.lookup("2").isEmpty)
    assert(r.lookup("3") == Some("three"))
    // a second build of the same ident returns the store untouched
    val before = Files.getLastModifiedTime(dir)
    val again = DurableIndex.once("graft-keyed-store-spec", ident)(
      KeyedStore.build(Seq((9L, "nine")).toDF("k", "v"), "k", "v", _))
    assert(again == dir && Files.getLastModifiedTime(dir) == before)
    assert(KeyedStore.open(dir.toString).lookup("9").isEmpty)
  }

  test("a tab or newline in key/value fails the build loudly") {
    // surfaces as SparkRuntimeException (raise_error) or SparkException
    // (wrapped task failure) depending on where the projection runs
    val tab = freshDir()
    val e1 = intercept[Exception] {
      KeyedStore.build(Seq((1L, "a\tb")).toDF("k", "v"), "k", "v", tab)
    }
    def mentions(t: Throwable): Boolean =
      t != null && (Option(t.getMessage).exists(_.contains("KeyedStore.build"))
        || mentions(t.getCause))
    assert(mentions(e1), s"unexpected failure: $e1")
    val nl = freshDir()
    val e2 = intercept[Exception] {
      KeyedStore.build(Seq(("x\ny", "v")).toDF("k", "v"), "k", "v", nl)
    }
    assert(mentions(e2), s"unexpected failure: $e2")
  }

  test("shards order numerically, not lexicographically (part-100000)") {
    // at >=100k build partitions Spark emits 6-digit part numbers;
    // 'part-100000' < 'part-99999' textually would break global order
    val names = Seq("part-100000-uuid.txt", "part-00000-uuid.txt",
      "part-99999-uuid.txt", "part-00010-uuid.txt")
    val sorted = names.sortBy(n => (KeyedStore.shardIndex(n), n))
    assert(sorted == Seq("part-00000-uuid.txt", "part-00010-uuid.txt",
      "part-99999-uuid.txt", "part-100000-uuid.txt"))
    // non-conforming names sort last rather than as shard 0
    assert(KeyedStore.shardIndex("data.txt") == Long.MaxValue)
  }

  test("Reader range-routes correctly across the 99999 -> 100000 shard-name rollover") {
    // End-to-end over a synthetic store whose shard NAMES span the
    // 5-digit/6-digit boundary: under lexicographic order part-100000
    // would sort before part-99999, putting its keys out of global
    // order and making the first-key bisection route every probe in
    // the rolled-over range to the wrong shard (silent misses, not an
    // error). Keys are constructed so lexicographic file order differs
    // from numeric: shard 99998 holds 'a*', 99999 holds 'b*', 100000
    // holds 'c*', 100001 holds 'd*'.
    val dir = java.nio.file.Files.createTempDirectory("keyedstore-rollover")
    def shard(name: String, rows: Seq[(String, String)]): Unit = {
      val body = rows.map { case (k, v) => s"$k\t$v" }.mkString("", "\n", "\n")
      java.nio.file.Files.write(dir.resolve(name),
        body.getBytes(java.nio.charset.StandardCharsets.UTF_8)); ()
    }
    shard("part-99998-u1.txt", Seq("a1" -> "v-a1", "a2" -> "v-a2"))
    shard("part-99999-u2.txt", Seq("b1" -> "v-b1", "b2" -> "v-b2"))
    shard("part-100000-u3.txt", Seq("c1" -> "v-c1", "c2" -> "v-c2"))
    shard("part-100001-u4.txt", Seq("d1" -> "v-d1", "d2" -> "v-d2"))
    val r = KeyedStore.open(dir.toString)
    for ((k, v) <- Seq("a1" -> "v-a1", "a2" -> "v-a2", "b1" -> "v-b1",
        "b2" -> "v-b2", "c1" -> "v-c1", "c2" -> "v-c2",
        "d1" -> "v-d1", "d2" -> "v-d2"))
      assert(r.lookup(k) == Some(v), s"key $k")
    // misses on both sides of every shard boundary stay misses
    for (k <- Seq("a0", "a3", "b0", "b3", "c0", "c3", "d0", "d3", ""))
      assert(r.lookup(k).isEmpty, s"key $k must miss")
  }
}

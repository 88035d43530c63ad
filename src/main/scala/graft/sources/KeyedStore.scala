package graft.sources

import java.nio.MappedByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, concat_ws, lit, raise_error, when}

/** A sorted on-disk key→value store: built ONCE per input as a
  * distributed Spark job (global range-sort → ordered TSV shards) into a
  * [[DurableIndex]] root, probed by executors through mmap'd binary
  * search.
  *
  * This is the scale-honest stand-in for an external keyed service's
  * storage (the Genome Nexus case, reference `maf.py:95-130`): the
  * service owns the data on disk; a client holds a HANDLE (here: the
  * store path + lazily mmap'd shards), never the dataset. Driver memory
  * is O(1) in the table size — the build is `orderBy(key).write`, which
  * never routes rows through the driver — and executor memory is O(1)
  * too (mmap pages are the OS cache's problem, plus one first-key per
  * shard for routing).
  *
  * Layout: `part-*` text shards, each internally sorted, globally
  * ordered across shard file names (Spark's range partitioner + the
  * part-NNNNN naming). Record = `key \t value \n` in UTF-8. Keys and
  * values must be tab/newline-free — the build raises on a violation
  * rather than corrupt the framing. NULL-keyed and NULL-valued rows
  * are not stored (see [[build]]: absent ≡ null-annotated under the
  * join face). Key order is raw-byte order — identical to Spark's
  * UTF8String sort, so the range routing and the in-shard bisection
  * agree with the build's `orderBy`.
  *
  * Scale: shard count = shuffle partitions at build time, so a 100 TB
  * key space spreads over thousands of <2 GB shards; each lookup is
  * O(log shards) in the boundary array + O(log shardBytes) page-cached
  * probes. Readers are cached per JVM (one mmap per shard per executor,
  * shared across tasks).
  */
object KeyedStore {

  /** Write the store into `dir` (replacing whatever is there). Build it
    * once per input through [[DurableIndex.once]], which owns the
    * build-once root, its completion marker and the builders' race.
    */
  def build(df: DataFrame, keyCol: String, valueCol: String, dir: Path): Unit =
    df.select(col(keyCol).cast("string").as("k"), col(valueCol).cast("string").as("v"))
      // NULL-valued keys are NOT stored: under the equivalent left-join
      // face a key mapped to NULL and an absent key both yield a null
      // annotation, so dropping them here makes lookup(k).isDefined ⟺
      // "the join's annotation is non-null" on ANY data — the two j5
      // faces stay bit-identical without a null marker in the record
      // format. NULL keys can never match an equi-probe either.
      .filter(col("k").isNotNull && col("v").isNotNull)
      .orderBy(col("k"))
      // record layout is delimiter-framed, so a stray '\t'/'\n' in a key
      // or value would silently corrupt neighboring records' framing —
      // fail the BUILD loudly instead (codegen'd check, no extra scan)
      .select(when(
          col("k").contains("\t") || col("k").contains("\n") ||
          col("v").contains("\t") || col("v").contains("\n"),
          raise_error(concat(
            lit("KeyedStore.build: tab/newline in key or value; key="),
            col("k"))))
        .otherwise(concat_ws("\t", col("k"), col("v"))))
      .write.mode("overwrite").text(dir.toString)

  /** Numeric part index of a Spark output shard ("part-00042-uuid…" →
    * 42). Raw lexicographic filename order breaks at ≥100k build
    * partitions — Spark pads to 5 digits, so "part-100000" sorts BEFORE
    * "part-99999" textually — which would silently break the global
    * order the range routing bisects over. Non-conforming names sort
    * last, stably by name.
    */
  private[sources] def shardIndex(name: String): Long = {
    val digits = name.stripPrefix("part-").takeWhile(_.isDigit)
    if (digits.isEmpty || digits.length > 18) Long.MaxValue else digits.toLong
  }

  private val readers = new ConcurrentHashMap[String, Reader]()

  /** Open (per-JVM cached) — cheap handle acquisition, the "connect". */
  def open(dir: String): Reader =
    readers.computeIfAbsent(Paths.get(dir).toAbsolutePath.toString, p => new Reader(Paths.get(p)))

  /** mmap'd binary-search reader over the sorted shards. Thread-safe:
    * all buffer access is absolute-indexed, no shared position state.
    */
  final class Reader(dir: Path) {
    private val shards: Array[Path] = {
      val s = Files.list(dir)
      try {
        val all = s.iterator()
        val b = Array.newBuilder[Path]
        while (all.hasNext) {
          val p = all.next()
          val n = p.getFileName.toString
          if (n.startsWith("part-") && !n.endsWith(".crc") && Files.size(p) > 0) b += p
        }
        b.result().sortBy(p =>
          (shardIndex(p.getFileName.toString), p.getFileName.toString))
      } finally s.close()
    }

    private val bufs = new Array[MappedByteBuffer](shards.length)
    private val sizes = new Array[Int](shards.length)

    private def buf(i: Int): MappedByteBuffer = {
      var b = bufs(i)
      if (b == null) synchronized {
        b = bufs(i)
        if (b == null) {
          val sz = Files.size(shards(i))
          require(sz < Int.MaxValue.toLong,
            s"shard ${shards(i)} is ${sz}B >= 2GB — rebuild with more shuffle partitions")
          val ch = FileChannel.open(shards(i), StandardOpenOption.READ)
          try b = ch.map(FileChannel.MapMode.READ_ONLY, 0, sz) finally ch.close()
          sizes(i) = sz.toInt
          bufs(i) = b
        }
      }
      b
    }

    /** First key of each shard, for range routing. O(#shards) memory. */
    private val firstKeys: Array[Array[Byte]] =
      shards.indices.map { i => keyAt(buf(i), 0, sizes(i)) }.toArray

    /** key bytes of the record starting at `start` (up to '\t' or '\n'). */
    private def keyAt(b: MappedByteBuffer, start: Int, size: Int): Array[Byte] = {
      var e = start
      while (e < size && b.get(e) != '\t' && b.get(e) != '\n') e += 1
      val k = new Array[Byte](e - start)
      var i = 0
      while (i < k.length) { k(i) = b.get(start + i); i += 1 }
      k
    }

    /** Unsigned-byte lexicographic compare — Spark's UTF8String order. */
    private def cmp(a: Array[Byte], b: Array[Byte]): Int = {
      val n = math.min(a.length, b.length)
      var i = 0
      while (i < n) {
        val d = (a(i) & 0xff) - (b(i) & 0xff)
        if (d != 0) return d
        i += 1
      }
      a.length - b.length
    }

    def lookup(key: String): Option[String] = {
      if (shards.isEmpty) return None
      val kb = key.getBytes(StandardCharsets.UTF_8)
      // last shard whose first key <= key
      var lo = 0; var hi = firstKeys.length - 1; var shard = -1
      while (lo <= hi) {
        val mid = (lo + hi) >>> 1
        if (cmp(firstKeys(mid), kb) <= 0) { shard = mid; lo = mid + 1 }
        else hi = mid - 1
      }
      if (shard < 0) return None
      searchShard(buf(shard), sizes(shard), kb)
    }

    /** Classic sorted-text-file bisection: any probe position maps to
      * the record containing it (backward scan to the previous '\n');
      * records strictly below/above the key are excluded wholesale.
      */
    private def searchShard(b: MappedByteBuffer, size: Int, kb: Array[Byte]): Option[String] = {
      var lo = 0        // always a record start
      var hi = size     // exclusive
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        var start = mid
        while (start > lo && b.get(start - 1) != '\n') start -= 1
        val c = cmpRecordKey(b, start, size, kb)
        if (c == 0) return Some(valueOf(b, start, size, kb.length))
        else if (c < 0) { // record key < probe key: skip past this record
          var e = start
          while (e < size && b.get(e) != '\n') e += 1
          lo = e + 1
        } else hi = start
      }
      None
    }

    /** compare the key of the record at `start` with `kb`. */
    private def cmpRecordKey(b: MappedByteBuffer, start: Int, size: Int, kb: Array[Byte]): Int = {
      var i = 0
      var p = start
      while (p < size) {
        val c = b.get(p)
        if (c == '\t' || c == '\n') return if (i == kb.length) 0 else -1
        if (i == kb.length) return 1
        val d = (c & 0xff) - (kb(i) & 0xff)
        if (d != 0) return d
        i += 1; p += 1
      }
      if (i == kb.length) 0 else -1
    }

    private def valueOf(b: MappedByteBuffer, start: Int, size: Int, keyLen: Int): String = {
      var p = start + keyLen
      if (p < size && b.get(p) == '\t') p += 1 // tab always present (build never stores nulls)
      var e = p
      while (e < size && b.get(e) != '\n') e += 1
      val v = new Array[Byte](e - p)
      var i = 0
      while (i < v.length) { v(i) = b.get(p + i); i += 1 }
      new String(v, StandardCharsets.UTF_8)
    }
  }
}

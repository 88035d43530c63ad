package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.FrameCache

/** Parquet table loaders for the driver-generated test corpus
  * (`/root/testdata/sf*`; see TESTDATA.md). At cluster scale these would
  * be catalog tables; the loader keeps scans declarative so Catalyst can
  * push filters/column pruning into the parquet reader.
  *
  * Optimization r14: the loaded DataFrame (the immutable logical READ
  * plan, nothing persisted) is memoized per (session, path) through
  * [[graft.queries.FrameCache.cachedValue]]. A bare `spark.read.parquet`
  * infers the schema by reading parquet footers on EVERY call — ~50-100
  * ms of driver-side metadata I/O per table per query construction,
  * which a 200-query suite pays several hundred times over for the same
  * ten files. This is exactly what a catalog does for a real table:
  * resolve the schema once, reuse the relation. No data is cached —
  * every action still scans parquet; only the footer-read/plan
  * construction is shared. Entries leave with their stopped session.
  *
  * ASSUMPTION (r15, per advisor note): the corpus at a path is
  * immutable for the lifetime of a session. The memo pins the parquet
  * file-listing/footer snapshot per (session, path); regenerating a
  * corpus in place under a LIVE session would serve a stale file list.
  * The harness satisfies this by construction (fresh session per run,
  * dirs keyed per SF); a long-lived interactive session that rewrites a
  * corpus must use a new path or a new session.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    FrameCache.cachedValue(spark, s"tables:$dir/$name")(spark.read.parquet(s"$dir/$name.parquet"))

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "region")
  /** `events.parquet` has shipped with two `ts` encodings across driver
    * data generations: INT64 TIMESTAMP(NANOS) (which Spark's reader
    * rejects unless nanos are read as long via the legacy conf, then
    * converted with integer division — a double intermediate's 53-bit
    * mantissa cannot hold ~1e18 nanosecond values exactly) and plain
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false (which Spark 4 infers
    * as TIMESTAMP_NTZ). Normalize BOTH to session-local TimestampType so
    * every downstream query/window/oracle sees one type regardless of
    * which generation produced the file (the harness runs in UTC, where
    * the NTZ→TZ cast is value-identical).
    */
  def events(spark: SparkSession, dir: String): DataFrame =
    FrameCache.cachedValue(spark, s"tables:$dir/events#normalized") {
      import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
      import org.apache.spark.sql.types.{LongType, TimestampNTZType}
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType =>
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        case TimestampNTZType =>
          raw.withColumn("ts", col("ts").cast("timestamp"))
        case _ => raw
      }
    }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Total on-disk bytes of a table's parquet file (or directory) — the
    * input-size signal width/partitioning heuristics derive from
    * (guide §2.2/§6: size partitions by data volume, never by the local
    * core count). 0 if absent.
    */
  def fileBytes(dir: String, name: String): Long = {
    val p = java.nio.file.Paths.get(dir).resolve(s"$name.parquet")
    if (!java.nio.file.Files.exists(p)) 0L
    else if (java.nio.file.Files.isRegularFile(p)) java.nio.file.Files.size(p)
    else {
      val s = java.nio.file.Files.list(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }
}

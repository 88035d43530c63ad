package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming state-store scale run (test scope, never shipped) — the
  * round-10 verdict item: drive the flatMapGroupsWithState faces
  * (sessionizer, CUSUM monitor) over the FULL sf1/sf10 event table
  * under the RocksDB state-store provider, as a real multi-micro-batch
  * file stream (time-ordered splits, so the watermark advances and
  * event-time timeouts actually fire), and report throughput + state
  * rows + RocksDB footprint from the query's progress metrics.
  *
  * Run: sbt "Test/runMain graft.streaming.StreamScale <sfDir> [nSplits] [repl]"
  *
  * `repl` > 1 synthesizes one more decade in-harness: the event table is
  * replicated `repl`× with DISJOINT user/event id spaces (copy r shifts
  * ids by r·max), so both event volume AND the session-key universe grow
  * `repl`× — the honest next decade for keyed state, since open-session
  * state scales with users, not events.
  */
object StreamScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/testdata-sf1")
    val nSplits = args.lift(1).map(_.toInt).getOrElse(20)
    val repl = args.lift(2).map(_.toInt).getOrElse(1)
    implicit val spark: SparkSession = graft.LocalSession(32,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import spark.implicits._
    import EventStreams.Event

    // time-ordered splits: the file stream source processes oldest-mod-
    // time first, so writing slices sequentially gives in-order batches
    // and a genuinely advancing watermark
    val base = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
    val events =
      if (repl <= 1) base
      else {
        val m = base.agg(max(col("event_id")), max(col("user_id"))).head()
        val (maxE, maxU) = (m.getLong(0) + 1L, m.getLong(1) + 1L)
        (0 until repl).map { r =>
          base.select((col("event_id") + lit(r * maxE)).as("event_id"),
            col("ts"), (col("user_id") + lit(r * maxU)).as("user_id"),
            col("event_type"), col("value"))
        }.reduce(_ union _)
      }
    val n = events.count()
    val Array(tMin, tMax) = events
      .agg(min(col("ts")).cast("long"), max(col("ts")).cast("long"))
      .head().toSeq.map(_.asInstanceOf[Long]).toArray
    val span = math.max(1L, tMax - tMin + 1)
    val streamDir = Files.createTempDirectory("graft-stream-src")
    (0 until nSplits).foreach { i =>
      val lo = tMin + span * i / nSplits
      val hi = tMin + span * (i + 1) / nSplits
      events.filter(col("ts").cast("long") >= lo && col("ts").cast("long") < hi)
        .coalesce(1).write.parquet(s"$streamDir/slice_${"%03d".format(i)}")
      ()
    }
    val sliceFiles = s"$streamDir/slice_*"
    println(s"[stream] sfDir=$dir events=$n splits=$nSplits repl=$repl")

    def drive(name: String, out: Dataset[_]): Unit = {
      val ckpt = Files.createTempDirectory(s"graft-ckpt-$name").toString
      val t0 = System.nanoTime()
      val q: StreamingQuery = out.writeStream
        .format("noop").outputMode("append")
        .option("checkpointLocation", ckpt)
        .start()
      try q.processAllAvailable() finally q.stop()
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress
      val rows = progs.map(_.numInputRows).sum
      val batches = progs.count(_.numInputRows > 0)
      val st = progs.reverseIterator
        .flatMap(p => Option(p.stateOperators).toSeq.flatten.headOption)
        .find(_ => true)
      val stateRows = st.map(_.numRowsTotal).getOrElse(-1L)
      val mem = st.map(_.memoryUsedBytes).getOrElse(-1L)
      val sst = st.flatMap(s0 => Option(s0.customMetrics)
        .map(m => Option(m.get("rocksdbSstFileSize")).map(_.longValue).getOrElse(-1L)))
        .getOrElse(-1L)
      // final-watermark lag behind the stream's max event time: how far
      // event-time processing trails the data's frontier once the last
      // batch lands (bounded by the withWatermark delay + one batch)
      val wmLagSec = progs.reverseIterator
        .flatMap(p => Option(p.eventTime).flatMap(m => Option(m.get("watermark"))))
        .find(_ => true)
        .map(w => tMax - java.time.Instant.parse(w).getEpochSecond)
        .getOrElse(-1L)
      println(f"[stream] $name%-10s wall=$wall%8.2f s rows=$rows " +
        f"batches=$batches thrpt=${rows / wall}%,.0f ev/s " +
        f"state_rows=$stateRows state_mem=$mem sst_bytes=$sst " +
        f"wm_lag=${wmLagSec}s")
    }

    def src: Dataset[Event] = spark.readStream
      .schema(events.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(sliceFiles)
      .as[Event]

    // CUSUM thresholds from the same integer recurrence the batch face
    // uses: k = mean hourly count + mean/CusumSlackDiv + 1, per type
    val k = events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .groupBy(col("event_type"), col("bucket")).agg(count(lit(1)).as("x"))
      .groupBy(col("event_type"))
      .agg(expr("sum(x) DIV count(1)").as("m"))
      .collect()
      .map(r => r.getString(0) -> {
        val m = r.getLong(1)
        m + m / graft.queries.StreamQueries.CusumSlackDiv + 1
      }).toMap
    println(s"[stream] cusum k per type: $k")

    drive("sessionize", EventStreams.sessionize(src))
    drive("cusum", EventStreams.cusumStream(src, k))
    spark.stop()
  }
}

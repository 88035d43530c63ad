package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark
import graft.streaming.EventStreamsSpec.Event

/** The batch faces run on a stream: window aggregation with
  * watermark-driven late-data dropping, stream-stream interval joins and
  * the stream-static enrichment, each checked against the same function
  * on a batch frame.
  */
class EventStreamsSpec extends AnyFunSuite {
  import spark.implicits._

  // offset from epoch: rows with ts <= initial watermark (0) are dropped
  // by stateful operators, so minute 0 must not be epoch itself
  private def ts(min: Int): Timestamp = new Timestamp((min + 60) * 60000L)

  private def ev(id: Long, min: Int, user: Long, typ: String = "click",
                 value: Double = 1.0): Event =
    Event(id, ts(min), user, typ, value)

  test("tumbling window stream drops events later than the watermark") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Event]
    val out = EventStreams.tumblingCounts(mem.toDF().withWatermark("ts", "30 minutes"))
    val q = out.writeStream.format("memory").queryName("tumbling_wm")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1: events in hour-0 and hour-1; watermark advances to 90-30=60
      mem.addData(ev(1, 10, 1), ev(2, 20, 1), ev(3, 90, 2))
      q.processAllAvailable()
      // batch 2: a late hour-0 event (min 25 < watermark 60) must be DROPPED;
      // an hour-1 event is still accepted
      mem.addData(ev(4, 25, 1), ev(5, 95, 2))
      q.processAllAvailable()
      // batch 3: advance watermark past hour 1 (165-30=135) closing all windows
      mem.addData(ev(6, 200, 3))
      q.processAllAvailable()
      val rows = spark.table("tumbling_wm")
        .select($"w_start".cast("long"), $"n").as[(Long, Long)].collect().toMap
      // ts(min) offsets by +60min, so the first hour window starts at 3600s
      assert(rows(3600L) == 2L, "first-hour window: late event dropped, 2 not 3")
      assert(rows(7200L) == 2L, "second-hour window: in-time event counted")
    } finally q.stop()
  }

  test("stream-stream interval join matches batch; out-of-interval rows excluded") {
    implicit val sq = spark.sqlContext
    // clicks at minute 10, 70, 200; purchases at minute 5, 65, 190
    def mkEv(id: Long, min: Long, user: Long, tpe: String, v: Double) =
      Event(id, new java.sql.Timestamp(min * 60000L), user, tpe, v)
    val clicks = Seq(mkEv(1, 10, 1, "click", 0), mkEv(2, 70, 1, "click", 0),
      mkEv(3, 200, 1, "click", 0))
    val purchases = Seq(mkEv(10, 5, 1, "purchase", 9.5),
      mkEv(11, 65, 1, "purchase", 3.25), mkEv(12, 190, 2, "purchase", 7.0))
    val batch = EventStreams.clickPurchaseJoin(clicks.toDF(), purchases.toDF())
      .select($"click_id", $"purchase_value").as[(Long, Double)].collect().toSet
    // click@10 sees purchase@5; click@70 sees only purchase@65 (the one
    // at minute 5 is 65 min earlier — outside the 1-hour interval);
    // click@200 sees nothing (purchase@190 belongs to user 2)
    assert(batch == Set((1L, 9.5), (2L, 3.25)))

    val cMem = MemoryStream[Event]; val pMem = MemoryStream[Event]
    val q = EventStreams.clickPurchaseJoin(cMem.toDF(), pMem.toDF(), Some("2 hours"))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode(OutputMode.Append()).start()
    try {
      cMem.addData(clicks: _*); pMem.addData(purchases: _*)
      q.processAllAvailable()
      val streamed = spark.table("ss_join")
        .select($"click_id", $"purchase_value").as[(Long, Double)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join: unmatched click emits nulls after watermark") {
    implicit val sq = spark.sqlContext
    def mkEv(id: Long, min: Long, user: Long, tpe: String, v: Double) =
      Event(id, new java.sql.Timestamp(min * 60000L), user, tpe, v)
    val clicks = Seq(mkEv(1, 10, 1, "click", 0), mkEv(2, 70, 1, "click", 0),
      mkEv(3, 200, 1, "click", 0))
    val purchases = Seq(mkEv(10, 5, 1, "purchase", 9.5),
      mkEv(11, 65, 1, "purchase", 3.25), mkEv(12, 190, 2, "purchase", 7.0))
    // batch oracle: the non-converting click@200 must appear with null
    val batch = EventStreams.clickPurchaseLeftJoin(clicks.toDF(), purchases.toDF())
      .select($"click_id", $"purchase_value").as[(Long, Option[Double])]
      .collect().toSet
    assert(batch == Set((1L, Some(9.5)), (2L, Some(3.25)), (3L, None)))

    val cMem = MemoryStream[Event]; val pMem = MemoryStream[Event]
    val q = EventStreams.clickPurchaseLeftJoin(cMem.toDF(), pMem.toDF(), Some("10 minutes"))
      .writeStream.format("memory").queryName("ss_left_join")
      .outputMode(OutputMode.Append()).start()
    try {
      cMem.addData(clicks: _*); pMem.addData(purchases: _*)
      q.processAllAvailable()
      // the unmatched click@200 CANNOT have emitted yet: a purchase at
      // minute <= 200 could still arrive (watermark holds the state open)
      val early = spark.table("ss_left_join")
        .select($"click_id", $"purchase_value").as[(Long, Option[Double])]
        .collect().toSet
      assert(!early.contains((3L, None)),
        s"outer row released before the watermark proved no match: $early")
      // advance both watermarks far past click@200 + interval + delay:
      // the outer row must now release with null purchase columns
      cMem.addData(mkEv(4, 600, 9, "click", 0))
      pMem.addData(mkEv(13, 600, 9, "purchase", 1.0))
      q.processAllAvailable()
      val late = spark.table("ss_left_join")
        .select($"click_id", $"purchase_value").as[(Long, Option[Double])]
        .collect().toSet
      assert(batch.subsetOf(late), s"expected $batch within $late")
    } finally q.stop()
  }

  test("file-source stream with checkpoint matches the batch result") {
    // readStream over a file directory — the production triad
    // (source dir → transform → sink + checkpoint) rather than
    // MemoryStream; maxFilesPerTrigger=1 forces multi-batch incremental
    // processing over the same data.
    val dir = java.nio.file.Files.createTempDirectory("graft-fstream").toString
    val events = Seq(ev(1, 10, 1), ev(2, 20, 1), ev(3, 70, 2), ev(4, 80, 2))
    events.take(2).toDF().write.parquet(s"$dir/in/f1.parquet")
    events.drop(2).toDF().write.parquet(s"$dir/in/f2.parquet")
    val batch = EventStreams.tumblingCounts(events.toDF())
      .select($"w_start".cast("long"), $"event_type", $"n")
      .as[(Long, String, Long)].collect().toSet
    val src = spark.readStream
      .schema(events.toDF().schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$dir/in/*")
    val q = EventStreams.tumblingCounts(src.withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName("tumbling_file")
      .option("checkpointLocation", s"$dir/ckpt")
      .outputMode(OutputMode.Complete()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling_file")
        .select($"w_start".cast("long"), $"event_type", $"n")
        .as[(Long, String, Long)].collect().toSet
      assert(streamed == batch)
      // the checkpoint recorded both discovered files
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/ckpt/sources")))
    } finally q.stop()
  }

  test("batch and streaming tumbling counts agree on the same data") {
    implicit val sq = spark.sqlContext
    val events = Seq(ev(1, 10, 1), ev(2, 20, 1), ev(3, 70, 2), ev(4, 80, 2))
    val batch = EventStreams.tumblingCounts(events.toDF())
      .select($"w_start".cast("long"), $"event_type", $"n")
      .as[(Long, String, Long)].collect().toSet
    val mem = MemoryStream[Event]
    val q = EventStreams.tumblingCounts(mem.toDF().withWatermark("ts", "1 minute"))
      .writeStream.format("memory").queryName("tumbling_eq")
      .outputMode(OutputMode.Complete()).start()
    try {
      mem.addData(events: _*)
      q.processAllAvailable()
      val streamed = spark.table("tumbling_eq")
        .select($"w_start".cast("long"), $"event_type", $"n")
        .as[(Long, String, Long)].collect().toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-static enrich: dim joined per micro-batch, broadcast, matches batch") {
    implicit val sq = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[Event]
    val out = EventStreams.enrichStream(mem.toDF(), dim, "user_id")
      .select($"event_id", $"user_id", $"tier")
    val q = out.writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append()).start()
    try {
      mem.addData(ev(1, 10, 1), ev(2, 20, 2), ev(3, 30, 99))
      q.processAllAvailable()
      mem.addData(ev(4, 40, 2))
      q.processAllAvailable()
      val got = spark.table("enrich_out").collect()
        .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
      // left join: unmatched user keeps the row with a null tier
      assert(got == Map(1L -> Some("gold"), 2L -> Some("silver"),
        3L -> None, 4L -> Some("silver")))
      // streaming result == the same function applied in batch mode
      val batch = EventStreams.enrichStream(
        Seq(ev(1, 10, 1), ev(2, 20, 2), ev(3, 30, 99), ev(4, 40, 2)).toDF(),
        dim, "user_id")
        .select($"event_id", $"user_id", $"tier").collect()
        .map(r => r.getLong(0) -> Option(r.getString(2))).toMap
      assert(batch == got)
      // the static side must broadcast — no per-batch shuffle of the stream
      // (asserted on the batch face: same function, same join plan)
      val batchPlan = EventStreams.enrichStream(
        Seq(ev(1, 10, 1)).toDF(), dim, "user_id")
        .queryExecution.executedPlan.toString
      assert(batchPlan.contains("BroadcastHashJoin"), batchPlan.take(300))
    } finally q.stop()
  }
}

object EventStreamsSpec {
  /** One row of the `events` table, for MemoryStream input. */
  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
                   event_type: String, value: Double)
}

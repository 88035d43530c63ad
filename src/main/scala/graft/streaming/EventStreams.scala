package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time transforms over the `events` table (extension per SURVEY
  * §2.8/§7 — the reference is batch-only). Each is defined once and runs
  * on either a batch or a streaming DataFrame: the `ev_*` queries run the
  * batch face, which the DuckDB oracle checks; EventStreamsSpec runs the
  * same functions on MemoryStream and file-source streams.
  *
  * Scale design: windowed aggregations shuffle on (window, key) with
  * map-side partial aggregation; on a stream, a watermark set upstream
  * bounds the window and join state.
  */
object EventStreams {

  /** ev_tumbling — 1-hour tumbling windows: count + exact decimal sum by
    * (window, event_type). On a stream, call `.withWatermark("ts", ...)`
    * upstream.
    */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value").cast("double").as("sum_value"))

  /** Sliding 1-hour windows every 30 minutes. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Built-in session windows (10-minute gap) per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Stream-stream interval join: each click joined to purchases of the
    * same user within the preceding hour. Both sides carry watermarks and
    * the join condition bounds event-time distance, so each side's state
    * store holds only rows inside (watermark + interval) — without the
    * time bound a stream-stream join would buffer both streams forever.
    * Works identically on batch frames (the oracle path).
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        watermark: Option[String] = None): DataFrame = {
    def wm(df: DataFrame) = watermark.map(df.withWatermark("ts", _)).getOrElse(df)
    val c = wm(clicks).select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("click_ts"))
    val p = wm(purchases).select(col("user_id").as("p_user_id"),
      col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("purchase_ts") <= col("click_ts"))
      .select(col("click_id"), col("user_id"), col("purchase_ts"), col("purchase_value"))
  }

  /** Stream-stream LEFT OUTER interval join: like [[clickPurchaseJoin]]
    * but clicks with no purchase in the window must still emit (with
    * null purchase columns). The outer row can only be emitted once the
    * watermark proves no matching purchase can still arrive — Spark
    * holds the unmatched left row in state until
    * `watermark > click_ts + interval`, then releases it with nulls.
    * This is the state-machine surface a funnel-with-dropoffs needs:
    * the inner join silently drops the non-converting majority. Both
    * sides MUST carry the watermark; on batch frames the same function
    * is the plain left join (the oracle path).
    */
  def clickPurchaseLeftJoin(clicks: DataFrame, purchases: DataFrame,
                            watermark: Option[String] = None): DataFrame = {
    def wm(df: DataFrame) = watermark.map(df.withWatermark("ts", _)).getOrElse(df)
    val c = wm(clicks).select(col("event_id").as("click_id"),
      col("user_id"), col("ts").as("click_ts"))
    val p = wm(purchases).select(col("user_id").as("p_user_id"),
      col("ts").as("purchase_ts"), col("value").as("purchase_value"))
    c.join(p,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") >= col("click_ts") - expr("INTERVAL 1 HOUR") &&
        col("purchase_ts") <= col("click_ts"),
      "left_outer")
      .select(col("click_id"), col("user_id"), col("purchase_ts"), col("purchase_value"))
  }

  /** Stream-static enrichment — the most common production streaming
    * join: each micro-batch of the stream left-joins a static dimension
    * (user → tier, device → model, code → name). Stateless: no
    * watermark, no state store — every batch probes the dim anew, so a
    * dim refresh (re-read of a table/path) is picked up on the next
    * batch. The static side is explicitly broadcast: at 1000 executors a
    * shuffle join would re-shuffle EVERY micro-batch of the stream; the
    * broadcast ships the dim once per batch and leaves the stream's
    * partitioning untouched. Same plan works on a batch frame (oracle
    * path).
    */
  def enrichStream(events: DataFrame, dim: DataFrame,
                   key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")
}

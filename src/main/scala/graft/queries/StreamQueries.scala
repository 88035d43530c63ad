package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.EventStreams

/** Batch-mode entries for the streaming transforms (SURVEY §2.8 extension):
  * the same window logic EventStreams runs on a stream, executed on the
  * batch `events` table where the DuckDB oracle can check it. `value` sums
  * go through DECIMAL(18,2) — float addition is order-dependent across
  * engines, decimal addition is exact and partial-aggregation-safe.
  */
object StreamQueries {

  type Q = (SparkSession, String) => DataFrame

  /** ev_tumbling — [[EventStreams.tumblingCounts]] over the events table. */
  def evTumbling: Q = (s, dir) =>
    EventStreams.tumblingCounts(Tables.events(s, dir))

  /** ev_transitions — the Markov next-event transition matrix: counts
    * and probabilities of event_type → immediately-following event_type
    * within each user's (ts, event_id)-ordered stream. The product-path
    * / "what do users do next" shape behind every funnel-discovery and
    * session-flow tool — and the order-aware complement of
    * [[TextQueries ta_cooccur]]'s orderless baskets. Probabilities are
    * integer micro ( ⌊10⁶·n/row_total⌋ via `div` ) so the matrix is
    * bit-stable cross-engine.
    *
    * Scale: ONE event-volume shuffle (the per-user lead window); the
    * transition frame after it is |event_types|² rows, so the row-total
    * window and the division run over a constant-sized frame no matter
    * the corpus. Event streams at any size reduce to the same tiny
    * matrix — this never becomes the bottleneck.
    */
  def evTransitions: Q = (s, dir) => {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts").asc, col("event_id").asc)
    val counts = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val byFrom = org.apache.spark.sql.expressions.Window
      .partitionBy(col("from_type"))
    counts
      .withColumn("tot", sum(col("n")).over(byFrom))
      .select(col("from_type"), col("to_type"), col("n"),
        expr("(n * 1000000) div tot").as("p_micro"))
  }

  /** ev_gapfill — time-series gap fill + forward fill: each user's
    * hourly activity densified to a contiguous hourly grid between
    * their first and last active hour, missing hours as explicit rows
    * with n = 0 carrying the last observed hourly revenue forward.
    * The canonical prep step before per-entity time-series modeling.
    * Sums ride DECIMAL(18,2) until the final double cast so the fill
    * value is engine-exact.
    *
    * Scale: ONE shuffle, NO join. Each observed hourly row generates
    * the buckets from itself up to (exclusive) the user's next
    * observed hour — `lead` + `sequence`/`explode` — so every gap row
    * is born WITH its carried value and the forward fill needs no
    * grid⋈observed join and no second window. The naive
    * grid/left-join/`last(ignoreNulls)` form costs a second scan (or
    * a cache) of the observed table plus a join; here the hourly
    * aggregate, the lead window, and the gap generation all share the
    * single up-front `repartition(user_id)`. Generated volume is
    * users × hours-in-range — linear for a fixed retention window.
    * PlanChecksSpec pins the one-Exchange, zero-Join shape.
    */
  def evGapfill: Q = (s, dir) => gapfillHourly(Tables.events(s, dir))

  /** The gap-fill core over any (user_id, ts, value) frame — split out so
    * the spec can drive constructed timelines; see [[evGapfill]].
    */
  private[graft] def gapfillHourly(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("bucket"))
    events
      .select(col("user_id"), date_trunc("hour", col("ts")).as("bucket"),
        col("value"))
      .repartition(col("user_id"))
      .groupBy(col("user_id"), col("bucket"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("value").cast("decimal(18,2)")).as("sum_value"))
      .withColumn("nxt", lead(col("bucket"), 1).over(w))
      .select(col("user_id"), col("bucket"), col("n_obs"), col("sum_value"),
        explode(expr(
          "sequence(bucket, coalesce(nxt - interval 1 hour, bucket), interval 1 hour)"))
          .as("w_start"))
      .select(col("user_id"), col("w_start"),
        when(col("w_start") === col("bucket"), col("n_obs"))
          .otherwise(lit(0L)).as("n"),
        col("sum_value").cast("double").as("filled_value"))
  }

  /** CUSUM slack (k = mean + mean/SlackDiv + 1) and decision threshold
    * (h = HMult·k) for [[evCusum]] — shared with the oracle.
    */
  val CusumSlackDiv = 10L
  val CusumHMult = 8L

  /** ev_cusum — sequential drift detection: a one-sided integer CUSUM
    * over each event type's hourly counts. Where ev_anomaly flags
    * POINTWISE outliers (2σ on a single bucket), CUSUM accumulates
    * small persistent shifts that never individually cross a sigma
    * bound — the standard changepoint monitor for rate drift. The
    * running-reset recurrence S_i = max(0, S_{i-1} + x_i − k) is not a
    * plain window aggregate, but its closed form IS:
    * S_i = P_i − min(0, min_{j≤i} P_j) with P the prefix sum of
    * (x − k) — two frames over ONE ordering, no recursion, no UDAF.
    * Everything is integer (counts, k = mean + mean/10 + 1, h = 8k),
    * so partial aggregation and the oracle agree bit-for-bit. Output:
    * every (event_type, hour) with its count, CUSUM statistic, and
    * drift flag.
    *
    * Scale: one shuffle on event_type (a bounded dimension — the
    * per-partition work is the per-type time series, linear in the
    * retention window; for an unbounded key universe the same plan
    * shape keys on the entity id like ev_anomaly). The per-type
    * mean rides the same partitioning as an unordered frame — no
    * second exchange, no driver state.
    */
  def evCusum: Q = (s, dir) => cusumHourly(Tables.events(s, dir))

  /** The CUSUM core over any (event_type, ts) frame — split out so the
    * spec can drive constructed drifts; see [[evCusum]].
    */
  private[graft] def cusumHourly(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wt = Window.partitionBy(col("event_type"))
    val wo = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .repartition(col("event_type"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("x"))
      .withColumn("tot", sum(col("x")).over(wt))
      .withColumn("nb", count(lit(1)).over(wt))
      .withColumn("k", expr(s"(tot div nb) + (tot div nb) div $CusumSlackDiv + 1"))
      .withColumn("p", sum(col("x") - col("k")).over(wo))
      .withColumn("cusum", col("p") - least(lit(0L), min(col("p")).over(wo)))
      .select(col("event_type"), col("bucket").as("w_start"), col("x"),
        col("cusum"),
        (col("cusum") > lit(CusumHMult) * col("k")).cast("int").as("drift"))
  }

  /** ev_concurrency — peak concurrent sessions per hour, by sweep line:
    * every session ([[EventStreams.sessionCounts]], half-open
    * [start, end)) emits (+1 at start, −1 at end), the running sum over
    * all boundary points in (time, ends-first) order is the live
    * concurrency, and the hourly peak is a max rollup. The capacity-
    * planning twin of ev_session: "how many sessions were open at
    * once", reported for every hour that contains a boundary.
    *
    * Scale: the global ordered running sum is
    * [[graft.operators.PrefixSum]] — range exchange + per-partition
    * scan + broadcast offsets — NOT a partitionless window (the
    * single-task global sort that dies at 100 TB; td_shuffle's point).
    * The (time, delta) order is encoded into one long key
    * (2·micros + isStart) so ends at t process before starts at t —
    * half-open semantics — and ties within a key can only be
    * same-sign, so the hourly MAX is order-independent. Boundary
    * volume is 2 rows per session, emitted by ONE explode over each
    * session row — not a self-union, whose two branches would execute
    * the upstream session-window aggregation twice (measured: the
    * union form re-ran the 1 M-event session sort-agg per branch,
    * 2.11 s vs 1.2 s at sf1).
    */
  def evConcurrency: Q = (s, dir) =>
    concurrencyOf(EventStreams.sessionCounts(Tables.events(s, dir)))

  /** The sweep-line core over any (session_start, session_end) frame —
    * split out so the spec can drive constructed sessions; see
    * [[evConcurrency]].
    */
  private[graft] def concurrencyOf(sess: DataFrame): DataFrame = {
    val pts = sess.select(explode(array(
        struct(unix_micros(col("session_start")).as("t"), lit(1L).as("delta")),
        struct(unix_micros(col("session_end")).as("t"), lit(-1L).as("delta")))).as("b"))
      .select(col("b.t").as("t"), col("b.delta").as("delta"))
      .withColumn("k", col("t") * 2 + when(col("delta") === 1L, 1L).otherwise(0L))
    graft.operators.PrefixSum.withRunningSum(pts, "k", "delta", "conc")
      .groupBy(timestamp_micros(col("t") - pmod(col("t"), lit(3600000000L))).as("w_start"))
      .agg(max(col("conc")).as("peak_concurrency"))
  }

  /** ev_sliding — 1-hour windows sliding every 30 minutes. */
  def evSliding: Q = (s, dir) =>
    EventStreams.slidingCounts(Tables.events(s, dir))

  /** ev_session — built-in session windows, 10-minute gap, per user. */
  def evSession: Q = (s, dir) =>
    EventStreams.sessionCounts(Tables.events(s, dir))

  /** ev_json — JSON property extraction from the props column, via the
    * compiled [[graft.functions.JsonExprs.jsonIntKey]] kernel: one
    * JSON-aware byte scan per row instead of a full Jackson parse
    * (`get_json_object` was the entire cost of this family at sf1 —
    * 2.2 s vs ~0.4 s compiled). JsonExprsSpec pins kernel ≡
    * `get_json_object($.k) :: int` on the corpus and on adversarial
    * nested/escaped shapes.
    */
  def evJson: Q = (s, dir) =>
    Tables.events(s, dir)
      .select(col("event_id"),
        graft.functions.JsonExprs.jsonIntKey(col("props"), "k").as("k_val"))

  /** ev_json_agg — aggregate over the extracted property. */
  def evJsonAgg: Q = (s, dir) =>
    Tables.events(s, dir)
      .withColumn("k_val", graft.functions.JsonExprs.jsonIntKey(col("props"), "k"))
      .groupBy(pmod(col("k_val"), lit(7)).as("k_bucket"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))

  /** ev_interval_join — the batch face of the stream-stream interval join
    * ([[EventStreams.clickPurchaseJoin]]): clicks joined to same-user
    * purchases within the preceding hour, aggregated per user. On a
    * stream both sides are watermarked and the time bound caps join
    * state; on batch the same condition is a range-bounded equi-join.
    */
  def evIntervalJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
    val purchases = ev.filter(col("event_type") === "purchase")
    EventStreams.clickPurchaseJoin(clicks, purchases)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("purchase_value").cast("decimal(18,2)"))
          .cast("double").as("sum_value"))
  }

  /** ev_left_interval — the batch face of the stream-stream LEFT OUTER
    * interval join ([[EventStreams.clickPurchaseLeftJoin]]): every click
    * emits, converting or not — the funnel-with-dropoffs shape the inner
    * join cannot express. Per user: clicks, converted clicks (≥1
    * purchase in the preceding hour), and summed purchase value, with
    * the click fan-out de-duplicated by counting distinct click ids. On
    * a stream the unmatched rows release when the watermark passes
    * click_ts; on batch the same plan is a plain left join.
    */
  def evLeftInterval: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
    val purchases = ev.filter(col("event_type") === "purchase")
    EventStreams.clickPurchaseLeftJoin(clicks, purchases)
      .groupBy(col("user_id"))
      .agg(countDistinct(col("click_id")).as("n_clicks"),
        countDistinct(when(col("purchase_ts").isNotNull, col("click_id")))
          .as("n_converted"),
        coalesce(sum(col("purchase_value").cast("decimal(18,2)")),
          lit(0).cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  /** ev_attribution — multi-touch (linear) purchase attribution: each
    * purchase's value splits equally across the same user's clicks in
    * the preceding hour (click_ts ∈ (purchase_ts − 1h, purchase_ts]);
    * a purchase with no qualifying click lands in the `-1`
    * ("unattributed") bucket with its full value. Output: per click
    * hour-of-day, touch count and integer-micro credit — the marketing
    * "which hours' clicks drive revenue" report, and the fractional-
    * credit complement of [[evAsof]]'s winner-takes-all last-touch.
    *
    * Scale: the only shuffle is the user-keyed range equi-join (the
    * [[evIntervalJoin]] shape — the 1-hour bound caps per-purchase
    * fan-out, and on a stream it is exactly the watermarked interval
    * join's state bound). The per-purchase touch count k is a window
    * over (user_id, p_id) — when the join shuffles (the cluster-scale
    * regime), HashPartitioning(user_id) already satisfies that
    * clustering and the window adds a sort but NO new exchange; when
    * the click side broadcasts (toy scale) the window's exchange is the
    * purchase stream's ONLY shuffle. Either way purchases cross the
    * wire at most once (PlanChecksSpec locks this), and the window
    * frame is one purchase's matched clicks (≤ the hour's click volume
    * for one user). Credit is integer micros with
    * `div` — floor(value·10⁶) is the same IEEE multiply in both
    * engines, so no float ever crosses an aggregation.
    */
  def evAttribution: Q = (s, dir) => attributionOf(Tables.events(s, dir))

  /** The linear-attribution core over any events frame — split out so
    * the spec can drive constructed histories; see [[evAttribution]].
    */
  private[graft] def attributionOf(ev: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_uid"), col("ts").as("click_ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id").as("p_uid"),
        col("ts").as("p_ts"),
        floor(col("value") * lit(1000000L)).cast("long").as("v_micros"))
    val joined = purchases.join(clicks,
      col("p_uid") === col("c_uid") &&
        col("click_ts") <= col("p_ts") &&
        col("click_ts") > col("p_ts") - expr("INTERVAL 1 HOUR"),
      "left")
    val w = Window.partitionBy(col("p_uid"), col("p_id"))
    joined
      .withColumn("k", count(col("click_ts")).over(w))
      .withColumn("hour_of_day",
        when(col("click_ts").isNull, lit(-1L))
          .otherwise(hour(col("click_ts")).cast("long")))
      .withColumn("credit",
        when(col("click_ts").isNull, col("v_micros"))
          .otherwise(expr("v_micros div k")))
      .groupBy(col("hour_of_day"))
      .agg(count(lit(1)).as("n_touches"),
        sum(col("credit")).as("credit_micros"))
  }

  /** ev_asof — as-of join: each click picks up the most recent purchase
    * value at-or-before it, per user ([[graft.operators.AsofJoin]]: one
    * shuffle + one sort, no range cross product). The right side is
    * pre-aggregated per (user, ts) so ties are deterministic in both
    * engines; DuckDB's native ASOF JOIN is the oracle.
    */
  def evAsof: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("purchase_value"))
    graft.operators.AsofJoin.asof(clicks, purchases,
        keyCols = Seq("user_id"), tsCol = "ts", valueCols = Seq("purchase_value"))
      .select(col("event_id"), col("user_id"), col("purchase_value"))
  }

  /** j12_asof_nearest — NEAREST-neighbor as-of join (sensor/feature
    * alignment where "most recent" is wrong half the time: each click
    * takes the purchase closest in time, before OR after). Composed
    * from two sorted-merge as-of passes — backward on event time,
    * forward on NEGATED integer micros (the standard trick: at-or-after
    * under t is at-or-before under −t) — then an integer gap compare,
    * ties to the earlier purchase. No range cross product anywhere:
    * two one-shuffle as-of joins plus an equi-join on event_id. Gaps
    * are integer microseconds end to end.
    */
  def j12AsofNearest: Q = (s, dir) => asofNearest(Tables.events(s, dir))

  /** The nearest-as-of composition over any events frame — see
    * [[j12AsofNearest]].
    */
  private[graft] def asofNearest(ev: DataFrame): DataFrame = {
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"), col("ts"))
      .agg(max(col("value")).as("pv"))
      .withColumn("pt", unix_micros(col("ts")))
    val back = graft.operators.AsofJoin.asof(clicks, purchases,
        keyCols = Seq("user_id"), tsCol = "ts", valueCols = Seq("pv", "pt"))
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts")).as("ct"),
        col("pv").as("bv"), col("pt").as("bt"))
    val clicksN = clicks.withColumn("nts", -unix_micros(col("ts")))
    val purchasesN = purchases.withColumn("nts", -unix_micros(col("ts")))
      .select(col("user_id"), col("nts"), col("pv"), col("pt"))
    val fwd = graft.operators.AsofJoin.asof(
        clicksN.select(col("event_id"), col("user_id"), col("nts")),
        purchasesN, keyCols = Seq("user_id"), tsCol = "nts",
        valueCols = Seq("pv", "pt"))
      .select(col("event_id"), col("pv").as("fv"), col("pt").as("ft"))
    back.join(fwd, Seq("event_id"))
      .withColumn("bgap", col("ct") - col("bt"))
      .withColumn("fgap", col("ft") - col("ct"))
      .select(col("event_id"), col("user_id"),
        when(col("bt").isNull && col("ft").isNull, lit(null).cast("double"))
          .when(col("ft").isNull, col("bv"))
          .when(col("bt").isNull, col("fv"))
          .when(col("bgap") <= col("fgap"), col("bv"))
          .otherwise(col("fv")).as("nearest_value"),
        when(col("bt").isNull && col("ft").isNull, lit(null).cast("long"))
          .when(col("ft").isNull, col("bgap"))
          .when(col("bt").isNull, col("fgap"))
          .otherwise(least(col("bgap"), col("fgap"))).as("gap_us"))
  }

  /** ev_window_topk — top-3 spenders per hour: windowed aggregation
    * composed with a ranking window — the "leaderboard per window" shape
    * every event-analytics pipeline ships. Spend sums in decimal so the
    * ranking key is exact (float sums are order-dependent in the last
    * ulp, which could flip ranks between engines); row_number carries a
    * user_id tiebreaker. Two shuffles: (window, user) aggregate, then
    * the per-window rank — the second is bounded by WindowGroupLimit.
    */
  def evWindowTopk: Q = (s, dir) => {
    val agg = Tables.events(s, dir)
      .groupBy(window(col("ts"), "1 hour"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("spend"))
      .select(col("window.start").as("w_start"), col("user_id"),
        col("n_events"), col("spend"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("w_start"))
      .orderBy(col("spend").desc, col("user_id").asc)
    agg.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select(col("w_start"), col("user_id"), col("n_events"),
        col("spend").cast("double").as("spend"), col("rn"))
  }

  /** ev_enrich — batch face of the stream-static dimension join
    * ([[EventStreams.enrichStream]]): events enriched with a user-tier
    * dim (derived deterministically here; a lookup table in production)
    * and aggregated per tier. On a stream the dim broadcasts per
    * micro-batch with zero state; the batch plan is the identical
    * broadcast join.
    */
  def evEnrich: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
    // % (remainder), not pmod: the oracle's SQL % is remainder, and the
    // two diverge on negative ids (pmod(-1,3)=2 vs -1%3=-1)
    val dim = ev.select(col("user_id")).distinct()
      .withColumn("tier", col("user_id") % lit(3L))
    EventStreams.enrichStream(ev, dim, "user_id")
      .groupBy(col("tier"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
  }

  /** ev_funnel — ordered-sequence funnel (view → click → purchase per
    * user): ONE shuffle on user_id, ZERO arrays. Greedy first-occurrence
    * advance over the (ts, event_type)-sorted sequence ≡ subsequence
    * membership (the oracle's ordered-string regex), and the greedy
    * match reduces to staged conditional minima over plain timestamps:
    * fv = min ts among views; fc = min ts among clicks with ts > fv
    * (a same-ts click sorts BEFORE its view — 'click' < 'view' — so
    * strict >); stage 3 iff any purchase has ts ≥ fc (a same-ts
    * purchase sorts AFTER its click — 'purchase' > 'click' — so ≥).
    * Two chained unbounded windows on user_id compute fv then fc on one
    * exchange + one sort; the per-user rollup reuses that partitioning
    * exchange-free. The previous form materialized and sorted a per-user
    * `collect_list(struct)` just to fold a 3-state machine — per-user
    * array allocation that cost 3× the oracle at sf10; the staged-min
    * form is pure codegen'd aggregation, no allocation per event.
    */
  def evFunnel: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    // qualifying events only (cheap views, cheap clicks, big purchases) —
    // the funnel is over a predicate per stage, as real funnels are
    val qualifying =
      (col("event_type") === "view" && col("value") < 50) ||
        (col("event_type") === "click" && col("value") < 20) ||
        (col("event_type") === "purchase" && col("value") > 150)
    funnelStagesOf(Tables.events(s, dir).filter(qualifying))
      .groupBy(col("stage"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** The staged-minima funnel core over any (user_id, ts, event_type)
    * frame of already-qualifying events — split out so the spec can
    * drive constructed tie corpora; see [[evFunnel]] for the tie-order
    * argument. Returns one (user_id, stage) row per user.
    */
  private[graft] def funnelStagesOf(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
    events
      .select(col("user_id"), col("ts"), col("event_type"))
      .withColumn("fv",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("fc",
        min(when(col("event_type") === "click" && col("ts") > col("fv"),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(max(col("fv")).as("fv"), max(col("fc")).as("fc"),
        max(when(col("event_type") === "purchase" && col("ts") >= col("fc"),
          1).otherwise(0)).as("hp"))
      .select(col("user_id"),
        when(col("fv").isNull, 0)
          .when(col("fc").isNull, 1)
          .when(col("hp") === 1, 3)
          .otherwise(2).as("stage"))
  }

  /** Token-bucket parameters for ev_rate_limit: bucket capacity in
    * tokens, and the refill interval (one token per [[RlRefillUs]]
    * microseconds). All state is integer microseconds — no float ever
    * enters the fold, so the decision sequence is exactly reproducible
    * in any engine.
    */
  val RlCapacity = 3L
  val RlRefillUs = 60000000L

  /** ev_rate_limit — per-user token-bucket rate limiting (the quota /
    * abuse-control pass over an event log: which requests would have
    * been admitted under a C-token, one-per-minute-refill budget).
    * Inherently SEQUENTIAL per key — each admit decision depends on
    * every prior one — so it compiles to the ev_funnel shape: one
    * shuffle on user_id, each user's (ts, id)-sorted events folded once
    * by a codegen'd higher-order aggregate carrying (credit, prev_ts,
    * admitted) integer state. Per-user cost is linear in events, state
    * is three longs; on a stream the same fold is the
    * flatMapGroupsWithState transition ([[graft.streaming.EventStreams]]
    * sessionizer pattern). The oracle replays the identical recurrence
    * as a recursive CTE — integer arithmetic both sides, no tolerance.
    */
  def evRateLimit: Q = (s, dir) => rateLimit(Tables.events(s, dir))

  /** The token-bucket fold over any (user_id, ts, event_id) frame — see
    * [[evRateLimit]] for semantics and the plan shape.
    */
  private[graft] def rateLimit(events: DataFrame): DataFrame = {
    val capUs = RlCapacity * RlRefillUs
    // pre = min(cap, credit + elapsed) appears three times below —
    // Spark SQL lambdas cannot bind locals, and the optimizer CSEs it
    val pre = s"least(${capUs}L, st.credit + IF(st.prev = -1L, 0L, e.t - st.prev))"
    events
      .select(col("user_id"),
        struct(unix_micros(col("ts")).as("t"), col("event_id").as("id")).as("e"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(col("e"))).as("es"))
      .withColumn("st", expr(
        s"""aggregate(es,
              named_struct('credit', ${capUs}L, 'prev', -1L, 'allowed', 0L),
              (st, e) -> named_struct(
                'credit', IF($pre >= ${RlRefillUs}L, $pre - ${RlRefillUs}L, $pre),
                'prev', e.t,
                'allowed', st.allowed + IF($pre >= ${RlRefillUs}L, 1L, 0L)))"""))
      .select(col("user_id"), size(col("es")).cast("long").as("n_events"),
        col("st.allowed").as("n_allowed"),
        (size(col("es")).cast("long") - col("st.allowed")).as("n_dropped"))
  }

  val queries: Map[String, Q] = Map(
    "ev_funnel" -> evFunnel,
    "ev_rate_limit" -> evRateLimit,
    "j12_asof_nearest" -> j12AsofNearest,
    "ev_enrich" -> evEnrich,
    "ev_window_topk" -> evWindowTopk,
    "ev_tumbling" -> evTumbling,
    "ev_transitions" -> evTransitions,
    "ev_gapfill" -> evGapfill,
    "ev_cusum" -> evCusum,
    "ev_concurrency" -> evConcurrency,
    "ev_sliding" -> evSliding,
    "ev_session" -> evSession,
    "ev_json" -> evJson,
    "ev_json_agg" -> evJsonAgg,
    "ev_interval_join" -> evIntervalJoin,
    "ev_left_interval" -> evLeftInterval,
    "ev_attribution" -> evAttribution,
    "ev_asof" -> evAsof)

  /** Shared gaps-and-islands session CTE (10-minute gap, the
    * session_window semantics) — read by the ev_session and
    * ev_concurrency oracles so session bounds can never drift between
    * the two.
    */
  private val duckSessionCte: String =
    """o AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL
      |           OR ts - lag(ts) OVER w >= INTERVAL 10 MINUTE
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (
      |  SELECT user_id, ts, event_id,
      |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM o)""".stripMargin

  val oracle: Map[String, String] = Map(
    "ev_attribution" ->
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id, ts AS p_ts,
        |         CAST(floor(value * 1000000) AS BIGINT) AS v_micros
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT user_id, ts AS click_ts FROM events
        |  WHERE event_type = 'click'),
        |j AS (
        |  SELECT p.p_id, p.v_micros, c.click_ts
        |  FROM p LEFT JOIN c ON p.user_id = c.user_id
        |    AND c.click_ts <= p.p_ts
        |    AND c.click_ts > p.p_ts - INTERVAL 1 HOUR),
        |k AS (
        |  SELECT p_id, v_micros, click_ts,
        |         count(click_ts) OVER (PARTITION BY p_id) AS k
        |  FROM j)
        |SELECT CAST(CASE WHEN click_ts IS NULL THEN -1
        |            ELSE hour(click_ts) END AS BIGINT) AS hour_of_day,
        |       count(*) AS n_touches,
        |       CAST(sum(CASE WHEN click_ts IS NULL THEN v_micros
        |                ELSE v_micros // k END) AS BIGINT) AS credit_micros
        |FROM k GROUP BY 1""".stripMargin,
    "ev_rate_limit" -> {
      val cap = RlCapacity * RlRefillUs
      s"""WITH RECURSIVE ev AS (
        |  SELECT user_id, epoch_us(ts) AS t, event_id,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |n AS (SELECT user_id, max(rn) AS n_events FROM ev GROUP BY user_id),
        |step AS (
        |  SELECT user_id, rn, t,
        |    CAST($cap - $RlRefillUs AS BIGINT) AS credit, CAST(1 AS BIGINT) AS allowed
        |  FROM ev WHERE rn = 1
        |  UNION ALL
        |  SELECT e.user_id, e.rn, e.t,
        |    CASE WHEN least($cap, s.credit + (e.t - s.t)) >= $RlRefillUs
        |         THEN least($cap, s.credit + (e.t - s.t)) - $RlRefillUs
        |         ELSE least($cap, s.credit + (e.t - s.t)) END,
        |    s.allowed + CASE WHEN least($cap, s.credit + (e.t - s.t)) >= $RlRefillUs
        |                     THEN 1 ELSE 0 END
        |  FROM step s JOIN ev e ON e.user_id = s.user_id AND e.rn = s.rn + 1)
        |SELECT s.user_id, CAST(n.n_events AS BIGINT) AS n_events,
        |  s.allowed AS n_allowed,
        |  CAST(n.n_events - s.allowed AS BIGINT) AS n_dropped
        |FROM step s JOIN n ON s.user_id = n.user_id AND s.rn = n.n_events""".stripMargin
    },
    "ev_funnel" ->
      """WITH seq AS (
        |  SELECT user_id, string_agg(event_type, ',' ORDER BY ts, event_type) AS s
        |  FROM events
        |  WHERE (event_type = 'view' AND value < 50)
        |     OR (event_type = 'click' AND value < 20)
        |     OR (event_type = 'purchase' AND value > 150)
        |  GROUP BY 1)
        |SELECT CASE
        |  WHEN regexp_matches(s, 'view.*click.*purchase') THEN 3
        |  WHEN regexp_matches(s, 'view.*click') THEN 2
        |  WHEN regexp_matches(s, 'view') THEN 1 ELSE 0 END AS stage,
        |  count(*) AS n_users
        |FROM seq GROUP BY 1""".stripMargin,
    "ev_enrich" ->
      """SELECT user_id % 3 AS tier, count(*) AS n,
        | sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
        | FROM events GROUP BY 1""".stripMargin,
    "ev_window_topk" ->
      """SELECT w_start, user_id, n_events, spend::DOUBLE AS spend, rn FROM (
        |  SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start, user_id,
        |    count(*) AS n_events,
        |    sum(value::DECIMAL(18,2)) AS spend,
        |    row_number() OVER (PARTITION BY time_bucket(INTERVAL 1 HOUR, ts)
        |      ORDER BY sum(value::DECIMAL(18,2)) DESC, user_id ASC) AS rn
        |  FROM events GROUP BY 1, 2)
        | WHERE rn <= 3""".stripMargin,
    "ev_tumbling" ->
      """SELECT time_bucket(INTERVAL 1 HOUR, ts) AS w_start, event_type,
        | count(*) AS n, sum(value::DECIMAL(18,2))::DOUBLE AS sum_value
        | FROM events GROUP BY 1, 2""".stripMargin,
    "ev_transitions" ->
      """WITH s AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) AS to_type
        |  FROM events),
        |c AS (
        |  SELECT from_type, to_type, count(*)::BIGINT AS n
        |  FROM s WHERE to_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, sum(n)::BIGINT AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n,
        |  (c.n * 1000000) // t.tot AS p_micro
        |FROM c JOIN t USING (from_type)""".stripMargin,
    "ev_gapfill" ->
      """WITH hourly AS (
        |  SELECT user_id, date_trunc('hour', ts) AS bucket,
        |    count(*)::BIGINT AS n, sum(value::DECIMAL(18,2)) AS sum_value
        |  FROM events GROUP BY 1, 2),
        |spans AS (
        |  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi
        |  FROM hourly GROUP BY 1),
        |grid AS (
        |  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
        |  FROM spans)
        |SELECT g.user_id, g.bucket AS w_start,
        |  coalesce(h.n, 0) AS n,
        |  (last_value(h.sum_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE AS filled_value
        |FROM grid g LEFT JOIN hourly h
        |  ON g.user_id = h.user_id AND g.bucket = h.bucket""".stripMargin,
    "ev_sliding" ->
      """SELECT w_start, event_type, count(*) AS n FROM (
        |  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, ts),
        |                 time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS w_start,
        |         event_type
        |  FROM events)
        |GROUP BY 1, 2""".stripMargin,
    "ev_session" ->
      s"""WITH $duckSessionCte
        |SELECT min(ts) AS session_start,
        |  max(ts) + INTERVAL 10 MINUTE AS session_end,
        |  user_id, count(*) AS n_events
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "ev_cusum" ->
      s"""WITH hourly AS (
        |  SELECT event_type, date_trunc('hour', ts) AS bucket, count(*)::BIGINT AS x
        |  FROM events GROUP BY 1, 2),
        |m AS (
        |  SELECT event_type, bucket, x,
        |    (sum(x) OVER tw)::BIGINT AS tot, (count(*) OVER tw)::BIGINT AS nb
        |  FROM hourly WINDOW tw AS (PARTITION BY event_type)),
        |kk AS (SELECT *, (tot // nb) + (tot // nb) // $CusumSlackDiv + 1 AS k FROM m),
        |p AS (
        |  SELECT *, (sum(x - k) OVER wo)::BIGINT AS pp FROM kk
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY bucket ROWS UNBOUNDED PRECEDING)),
        |c AS (
        |  SELECT *, pp - least(0, (min(pp) OVER wo)::BIGINT) AS cusum FROM p
        |  WINDOW wo AS (PARTITION BY event_type ORDER BY bucket ROWS UNBOUNDED PRECEDING))
        |SELECT event_type, bucket AS w_start, x, cusum,
        |  CASE WHEN cusum > $CusumHMult * k THEN 1 ELSE 0 END AS drift
        |FROM c""".stripMargin,
    "ev_concurrency" ->
      s"""WITH $duckSessionCte,
        |sess AS (
        |  SELECT min(ts) AS st, max(ts) + INTERVAL 10 MINUTE AS en
        |  FROM s GROUP BY user_id, sid),
        |pts AS (
        |  SELECT epoch_us(st) AS t, 1::BIGINT AS delta FROM sess
        |  UNION ALL SELECT epoch_us(en) AS t, -1::BIGINT AS delta FROM sess),
        |c AS (
        |  SELECT t, (sum(delta) OVER (
        |    ORDER BY t * 2 + CASE WHEN delta = 1 THEN 1 ELSE 0 END
        |    ROWS UNBOUNDED PRECEDING))::BIGINT AS conc
        |  FROM pts)
        |SELECT make_timestamp(t - (t % 3600000000)) AS w_start,
        |  max(conc)::BIGINT AS peak_concurrency
        |FROM c GROUP BY 1""".stripMargin,
    "j12_asof_nearest" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts, epoch_us(ts) AS ct
        |  FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts, max(value) AS pv, epoch_us(ts) AS pt
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2, 4),
        |b AS (
        |  SELECT c.event_id, c.user_id, c.ct, p.pv AS bv, p.pt AS bt
        |  FROM clicks c ASOF LEFT JOIN p
        |    ON c.user_id = p.user_id AND c.ts >= p.ts),
        |cn AS (SELECT event_id, -ct AS nts, user_id FROM clicks),
        |pn AS (SELECT user_id, -pt AS nts, pv, pt FROM p),
        |f AS (
        |  SELECT c.event_id, p.pv AS fv, p.pt AS ft
        |  FROM cn c ASOF LEFT JOIN pn p
        |    ON c.user_id = p.user_id AND c.nts >= p.nts)
        |SELECT b.event_id, b.user_id,
        |  CASE WHEN bt IS NULL AND ft IS NULL THEN NULL
        |       WHEN ft IS NULL THEN bv
        |       WHEN bt IS NULL THEN fv
        |       WHEN ct - bt <= ft - ct THEN bv ELSE fv END AS nearest_value,
        |  CASE WHEN bt IS NULL AND ft IS NULL THEN NULL
        |       WHEN ft IS NULL THEN ct - bt
        |       WHEN bt IS NULL THEN ft - ct
        |       ELSE least(ct - bt, ft - ct) END AS gap_us
        |FROM b JOIN f USING (event_id)""".stripMargin,
    "ev_asof" ->
      """WITH clicks AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |p AS (
        |  SELECT user_id, ts, max(value) AS purchase_value
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2)
        |SELECT c.event_id, c.user_id, p.purchase_value
        |FROM clicks c ASOF LEFT JOIN p
        |  ON c.user_id = p.user_id AND c.ts >= p.ts""".stripMargin,
    "ev_json" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k_val
        | FROM events""".stripMargin,
    "ev_interval_join" ->
      """SELECT c.user_id, count(*) AS n_pairs,
        | sum(p.value::DECIMAL(18,2))::DOUBLE AS sum_value
        | FROM (SELECT user_id, ts FROM events WHERE event_type = 'click') c
        | JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |   ON c.user_id = p.user_id
        |  AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts
        | GROUP BY 1""".stripMargin,
    "ev_left_interval" ->
      """SELECT c.user_id, count(DISTINCT c.event_id) AS n_clicks,
        | count(DISTINCT CASE WHEN p.ts IS NOT NULL THEN c.event_id END) AS n_converted,
        | coalesce(sum(p.value::DECIMAL(18,2)), 0::DECIMAL(18,2))::DOUBLE AS sum_value
        | FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        | LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        |   ON c.user_id = p.user_id
        |  AND p.ts >= c.ts - INTERVAL 1 HOUR AND p.ts <= c.ts
        | GROUP BY 1""".stripMargin,
    "ev_json_agg" ->
      """SELECT CAST(json_extract_string(props, '$.k') AS INT) % 7 AS k_bucket,
        | count(*) AS n, count(DISTINCT user_id) AS n_users
        | FROM events GROUP BY 1""".stripMargin)
}

package graft.validation

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's validation surface (SURVEY §2.10, V1–V17) as a
  * combinator library of aggregate queries returning data instead of the
  * reference's logger/error-flag side channel
  * (`src/iatlascbioportalexport/utils.py:52-58`). Each rule is one of the
  * aggregate shapes in SURVEY §2.4; rules over the same frame fuse into a
  * single aggregate pass so the report costs O(#tables) scans, not
  * O(#rules).
  */
object Rules {

  /** One named check: an aggregate expression + the predicate on its value
    * that means "pass".
    */
  final case class Rule(name: String, agg: Column, passWhenZero: Boolean = true)

  /** V5/V6-style: null count of a key column (must be 0). */
  def noNulls(c: String): Rule =
    Rule(s"no_null_$c", sum(when(col(c).isNull, 1L).otherwise(0L)))

  /** V9/A4: full-row duplicate count (count - distinct count over cols). */
  def noKeyedDups(c: String): Rule =
    Rule(s"no_dup_$c", (count(lit(1)) - countDistinct(col(c))))

  /** V2/V8-style raw row count (reported, not pass/fail on its own). */
  def rowCount(label: String): Rule =
    Rule(s"rows_$label", count(lit(1)), passWhenZero = false)

  /** A 128-bit tuple fingerprint (two independently-salted xxhash64
    * words) that is SAFE to count distinct in place of the tuple itself:
    * equal tuples always collide, unequal tuples collide with
    * probability ~n²/2¹²⁹ (~10⁻²³ at 60M rows). Spark's hash functions
    * skip null inputs entirely — ('A', null) and (null, 'A') would fold
    * identically — so a null-position bitmap leads the hash input and
    * restores SQL DISTINCT-tuple semantics: null components group as
    * equal, tuples differing only in WHICH field is null stay distinct.
    *
    * Why: `countDistinct(struct(...))` over a mostly-unique fact-wide
    * key shuffles the full tuple bytes — on the sf10 MAF dup-variant
    * rule that is 60M wide-struct rows and the dominant cost of the
    * whole report. Counting distinct fingerprints shuffles 16 bytes per
    * row instead, with the same two-level partial-distinct plan. The
    * hash↔tuple agreement is collision-audited in RulesSpec against
    * adversarial null placements and the sf corpus.
    */
  def tupleHash128(cols: Seq[Column]): Column = {
    val bitmap = cols.zipWithIndex
      .map { case (c, i) => when(c.isNull, lit(1L << i)).otherwise(lit(0L)) }
      .reduce(_ + _)
    struct(
      xxhash64((bitmap +: cols): _*).as("h1"),
      xxhash64((lit("graft-tuple-salt") +: bitmap +: cols): _*).as("h2"))
  }

  /** V7: all-NA column check — non-null count of a column (pass when > 0,
    * reported as the count of MISSING values being less than rows).
    */
  def notAllNa(c: String): Rule =
    Rule(s"not_all_na_$c", count(col(c)), passWhenZero = false)

  /** Attach a rule set to a frame as `observe` metrics — ZERO-extra-pass
    * validation: the counters are computed by whatever action
    * materializes the frame (an export write, a downstream aggregate)
    * instead of a separate scan per table. `evaluate` costs one extra
    * pass per frame; this costs none — at 100 TB that is the difference
    * between validating for free and re-reading the table. Returns the
    * instrumented frame (use it IN PLACE of the original for exactly one
    * action) and the Observation; read results with [[observedRows]]
    * after the action ran. Aggregates are coalesced to 0 so an empty
    * frame yields counts, not nulls. Limitation (Spark's, by design):
    * observe metrics cannot contain distinct aggregates — dup checks
    * stay in `evaluate`.
    */
  def observed(df: DataFrame, name: String,
               rules: Seq[Rule]): (DataFrame, org.apache.spark.sql.Observation) = {
    require(rules.nonEmpty, "observed() needs at least one rule")
    val obs = org.apache.spark.sql.Observation(name)
    val aggs = rules.map(r => coalesce(r.agg, lit(0L)).cast("long").as(r.name))
    (df.observe(obs, aggs.head, aggs.tail: _*), obs)
  }

  /** The (rule, value, passed) rows from an [[observed]] frame's metrics;
    * blocks until the instrumented action has completed.
    */
  def observedRows(obs: org.apache.spark.sql.Observation,
                   rules: Seq[Rule]): Seq[(String, Long, Boolean)] = {
    val m = obs.get
    rules.map { r =>
      val v = m(r.name).asInstanceOf[Long]
      (r.name, v, if (r.passWhenZero) v == 0L else v > 0L)
    }
  }

  /** Evaluate a set of rules over one frame in ONE aggregate pass,
    * returning (rule, value, passed) rows in the rules' order. The job
    * runs on the calling thread, under its job group; callers that
    * overlap several evaluations wrap each in [[Async]].
    *
    * One distinct rule rides the pass for free: Spark plans the
    * row-replicating Expand only at ≥2 distinct groups in one Aggregate
    * (a single distinct alongside plain aggregates is the two-level
    * partial-distinct shape). Every rule set the engine evaluates holds
    * at most one — `maf_no_dup_variants` in [[PortalRules.mafFieldRules]],
    * `no_dup_o_orderkey` in [[standardReport]] — so the pass never
    * multiplies its input.
    */
  def evaluate(spark: SparkSession, df: DataFrame, rules: Seq[Rule]): DataFrame = {
    import spark.implicits._
    require(rules.nonEmpty, "evaluate() needs at least one rule")
    require(rules.map(_.name).distinct.size == rules.size,
      s"duplicate rule names: ${rules.groupBy(_.name).filter(_._2.size > 1).keys.mkString(", ")}")
    val row = df.agg(rules.head.agg.as(rules.head.name),
      rules.tail.map(r => r.agg.as(r.name)): _*).head()
    rules.zipWithIndex.map { case (r, i) =>
      val v = row.getLong(i)
      (r.name, v, if (r.passWhenZero) v == 0L else v > 0L)
    }.toDF("rule", "value", "passed")
  }

  /** One keyed column a [[keyCensus]] source contributes: every row of
    * the source adds one `(namespace, key, tag, value)` row. Keys compare
    * in the type the caller gives them, so every key of one census shares
    * one type; `value` compares by its string form.
    */
  final case class CensusKey(namespace: String, tag: String, key: Column,
                             value: Column = lit(null))

  /** The key census of several frames, one row per `(ns, key)`: a `tag`
    * column per [[CensusKey]] tag counting that tag's rows under the key
    * (so no tag is named `ns`, `key`, `lo` or `hi`), and `lo`/`hi`, the
    * min/max over the key's non-null values of a 64-bit fingerprint
    * (xxhash64) of the value's string form: `lo` ≠ `hi` exactly when the
    * key saw two distinct values, up to a 2⁻⁶⁴ collision. The fingerprint
    * keeps every aggregation buffer fixed-width, so the census plans as a
    * hash aggregate; a string min/max makes Spark sort every input row.
    * Null keys group like values. Each frame is scanned once — its keys
    * leave it through one `inline(array(struct(…)))` projection — and the
    * union of those projections takes one group-by, whose partial
    * aggregate collapses a fact-sized frame to key scale before the
    * shuffle.
    */
  def keyCensus(sources: Seq[(DataFrame, Seq[CensusKey])]): DataFrame = {
    val tags = sources.flatMap(_._2.map(_.tag)).distinct
    sources.filter(_._2.nonEmpty).map { case (df, keys) =>
      df.select(inline(array(keys.map(k => struct(lit(k.namespace).as("ns"),
        k.key.as("key"), lit(k.tag).as("tag"),
        when(k.value.isNotNull, xxhash64(k.value.cast("string"))).as("value"))): _*)))
    }.reduce(_ unionByName _)
      .groupBy(col("ns"), col("key"))
      .agg(min(col("value")).as("lo"), max(col("value")).as("hi") +:
        tags.map(t => sum(when(col("tag") === t, 1L).otherwise(0L)).as(t)): _*)
  }

  /** Global aggregates over a [[keyCensus]] in one job, each coalesced to
    * 0 (an empty census has no groups; one without keys runs no job).
    */
  def censusCounts(sources: Seq[(DataFrame, Seq[CensusKey])], aggs: Seq[Column]): Seq[Long] = {
    if (sources.forall(_._2.isEmpty)) return aggs.map(_ => 0L)
    val row = keyCensus(sources).agg(coalesce(aggs.head, lit(0L)),
      aggs.tail.map(coalesce(_, lit(0L))): _*).head()
    aggs.indices.map(row.getLong)
  }

  /** The two-sided set difference of two key columns as distinct-key
    * counts: (keys only in `a`, keys only in `b`) — the two-source
    * [[keyCensus]], both directions in ONE shuffle. Equivalent to two
    * `except`s (nulls group like values, matching EXCEPT's null-safe
    * semantics) at half the shuffles.
    */
  def setDifference(a: DataFrame, aKey: Column, b: DataFrame, bKey: Column): (Long, Long) = {
    def only(in: String, out: String) = sum(when(col(in) > 0 && col(out) === 0, 1L).otherwise(0L))
    val Seq(aOnly, bOnly) = censusCounts(
      Seq(a -> Seq(CensusKey("k", "a", aKey)), b -> Seq(CensusKey("k", "b", bKey))),
      Seq(only("a", "b"), only("b", "a")))
    (aOnly, bOnly)
  }

  /** V10/V12/A9: distinct-set equality between two key columns, both
    * directions (reference `maf.py:241-247`, `validate.py:152-157`).
    */
  def setEquality(spark: SparkSession, name: String,
                  a: DataFrame, aKey: String, b: DataFrame, bKey: String): DataFrame = {
    import spark.implicits._
    val (aNotB, bNotA) = setDifference(a, col(aKey), b, col(bKey))
    Seq((s"${name}_a_minus_b", aNotB, aNotB == 0L),
      (s"${name}_b_minus_a", bNotA, bNotA == 0L))
      .toDF("rule", "value", "passed")
  }

  /** The standard report over the test corpus — the `v_report` query.
    * Mirrors the reference's clinical/MAF check set on the analogous
    * tables: orders = "samples" table, lineitem = "MAF" fact table.
    */
  def standardReport(spark: SparkSession, dir: String): DataFrame = {
    val orders = graft.Tables.orders(spark, dir)
    val lineitem = graft.Tables.lineitem(spark, dir)
    // The three rule groups are independent Spark jobs over different
    // frames — submit them concurrently (the scheduler interleaves their
    // stages across executor slots) instead of serializing driver actions.
    val ordersRules = Async(spark)(evaluate(spark, orders, Seq(
      rowCount("orders"),
      noNulls("o_orderkey"),
      noNulls("o_custkey"),
      noKeyedDups("o_orderkey"),
      notAllNa("o_orderstatus"))))
    val lineitemRules = Async(spark)(evaluate(spark, lineitem, Seq(
      rowCount("lineitem"),
      noNulls("l_orderkey"),
      notAllNa("l_quantity"))))
    val sets = Async(spark)(setEquality(spark, "orderkeys",
      orders, "o_orderkey", lineitem, "l_orderkey"))
    Async.await(ordersRules)
      .unionByName(Async.await(lineitemRules))
      .unionByName(Async.await(sets))
  }

  /** DuckDB oracle for [[standardReport]] — same numbers via UNION ALL. */
  val standardReportOracle: String =
    """SELECT 'rows_orders' AS rule, count(*) AS value, count(*) > 0 AS passed FROM orders
      |UNION ALL SELECT 'no_null_o_orderkey', CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) = 0 FROM orders
      |UNION ALL SELECT 'no_null_o_custkey', CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0 FROM orders
      |UNION ALL SELECT 'no_dup_o_orderkey', count(*) - count(DISTINCT o_orderkey), count(*) - count(DISTINCT o_orderkey) = 0 FROM orders
      |UNION ALL SELECT 'not_all_na_o_orderstatus', count(o_orderstatus), count(o_orderstatus) > 0 FROM orders
      |UNION ALL SELECT 'rows_lineitem', count(*), count(*) > 0 FROM lineitem
      |UNION ALL SELECT 'no_null_l_orderkey', CAST(sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT), sum(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) = 0 FROM lineitem
      |UNION ALL SELECT 'not_all_na_l_quantity', count(l_quantity), count(l_quantity) > 0 FROM lineitem
      |UNION ALL SELECT 'orderkeys_a_minus_b', (SELECT count(*) FROM (SELECT DISTINCT o_orderkey FROM orders EXCEPT SELECT DISTINCT l_orderkey FROM lineitem)), (SELECT count(*) FROM (SELECT DISTINCT o_orderkey FROM orders EXCEPT SELECT DISTINCT l_orderkey FROM lineitem)) = 0
      |UNION ALL SELECT 'orderkeys_b_minus_a', (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem EXCEPT SELECT DISTINCT o_orderkey FROM orders)), (SELECT count(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem EXCEPT SELECT DISTINCT o_orderkey FROM orders)) = 0""".stripMargin
}

package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one owner of session-lifetime state: persisted build-side frames
  * (LSH signature tables, benchmark gram sets, runtime-filter build
  * sides) and driver-side values ([[cachedValue]]: sketches, counts,
  * collected columns, the [[graft.Tables]] read plans). Build-once disk
  * artifacts that outlive the session belong to
  * [[graft.sources.DurableIndex]] instead. A bare
  * `.persist()` inside a query function leaks one cache entry per
  * invocation — a REPS=N bench accumulates N copies of the same frame.
  * Keying by the frame's INPUT identity bounds the cache at one entry
  * per distinct input and makes repeat invocations (bench reps, the
  * composed td_pipeline calling a stage a second time) hit the already
  * materialized frame, which is the semantics a real index/sketch build
  * has: one per dataset, not one per query run.
  *
  * Entries are additionally keyed by the OWNING SESSION's identity: a
  * frame persisted under session A must never be returned to a query
  * running under session B (a stopped-and-recreated session would
  * otherwise fail with "SparkContext was shut down"). Entries whose
  * session has since stopped are evicted on the next access, so a JVM
  * that cycles sessions (tests, notebooks) cannot grow the cache
  * unboundedly across dead sessions.
  */
private[graft] object FrameCache {

  private val frames = new ConcurrentHashMap[String, DataFrame]()

  /** Session → its key prefix. The prefix embeds a monotonic counter
    * rather than `identityHashCode`: a hash could recur on a new session
    * object after the old one is GC'd, silently serving frame/sketch
    * entries across session generations. The registry holds a strong
    * reference only until the session stops — `evictStopped` drops the
    * mapping together with every cache entry under its prefix.
    */
  private val sessionPrefixes = new ConcurrentHashMap[SparkSession, String]()
  private val nextSessionId = new java.util.concurrent.atomic.AtomicLong(0L)

  private def sessionKey(s: SparkSession): String =
    sessionPrefixes.computeIfAbsent(
      s,
      sess => s"${sess.sparkContext.applicationId}#${nextSessionId.incrementAndGet()}")

  /** Drop entries owned by a session whose context has stopped — their
    * cached blocks are already gone with the executor; unpersist on a
    * dead context is a no-op at best, so just drop the references. Every
    * map is pruned by the dead session's key prefix, so a JVM that
    * cycles sessions cannot accumulate driver-side values any more than
    * it can frames.
    */
  private def evictStopped(): Unit = {
    val it = sessionPrefixes.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getKey.sparkContext.isStopped) {
        val prefix = e.getValue + ":"
        frames.keySet.removeIf(_.startsWith(prefix))
        ownedIdsCache.keySet.removeIf(_.startsWith(prefix))
        values.keySet.removeIf(_.startsWith(prefix))
        buildLocks.keySet.removeIf(_.startsWith(prefix))
        it.remove()
      }
    }
  }

  /** Per-key build locks for [[memo]]. One Object per live cache key —
    * pruned with the caches in [[evictStopped]]/[[clear]]. */
  private val buildLocks = new ConcurrentHashMap[String, Object]()

  /** Memoize `build` under `key` in `map` WITHOUT running it inside
    * `ConcurrentHashMap.computeIfAbsent`: a build that itself consults
    * the cache (nested index frames — g_triangles reads the mutual-graph
    * frame, whose build reads the LSH signature chain) re-enters the
    * map, and computeIfAbsent throws `IllegalStateException("Recursive
    * update")` whenever the outer and inner keys land in the same hash
    * bin. That collision depends on the map's bin layout and the
    * session prefix (which embeds the per-run application id), so the
    * failure is NONDETERMINISTIC across runs — it fired for the first
    * time in round 13 on a pair of graph queries green since round 9.
    * Per-key locks keep the once-only guarantee; distinct keys never
    * serialize against each other, and a nested build takes its own
    * key's lock (a same-key cycle would have been infinite recursion
    * under computeIfAbsent too).
    */
  private def memo[V <: AnyRef](map: ConcurrentHashMap[String, V],
      key: String)(build: => V): V = {
    val v0 = map.get(key)
    if (v0 != null) v0
    else buildLocks.computeIfAbsent(key, _ => new Object).synchronized {
      val v1 = map.get(key)
      if (v1 != null) v1
      else {
        val v = build
        // putIfAbsent, not put: evictStopped()/clear() prune buildLocks
        // independently of the value maps, so a lock removed while this
        // build is in flight lets a concurrent caller mint a fresh lock
        // for the same key and race us here. The loser's value must not
        // overwrite the winner's (a persist()ed loser frame would leak
        // its storage unreferenced) — keep the winner, release the loser.
        val prev = map.putIfAbsent(key, v)
        if (prev == null) v
        else {
          v match {
            case df: DataFrame if !df.sparkSession.sparkContext.isStopped =>
              df.unpersist(); ()
            case _ => ()
          }
          prev
        }
      }
    }
  }

  /** The persisted frame for `key` under session `s`, building (and
    * persisting) it on first use. The build must be a pure function of
    * the key for a fixed session.
    */
  def cached(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    evictStopped()
    memo(frames, s"${sessionKey(s)}:$key")(build.persist())
  }

  /** Like [[cached]], but the stored frame is an EAGER
    * `localCheckpoint`: its logical plan is a `LogicalRDD` over the
    * materialized blocks, not the full build lineage. Use for frames
    * whose consumers SELF-JOIN them — with plain `persist()` the cache
    * substitution happens only after analysis, so a consumer that
    * references the frame k times re-analyzes k copies of the entire
    * build chain on EVERY query construction (g_triangles referenced
    * the mutual near-dup graph 5× over a 4×-referenced window over the
    * LSH chain: ~4 s of analyzer time per invocation for an 80 ms
    * execution). The tradeoff: a `LogicalRDD` reports no size stats, so
    * downstream joins against it never AUTO-broadcast — callers must
    * `broadcast()` explicitly where they want it (the graph family
    * already does).
    */
  def cachedCut(s: SparkSession, key: String)(build: => DataFrame): DataFrame = {
    evictStopped()
    memo(frames, s"${sessionKey(s)}:$key")(build.localCheckpoint())
  }

  /** Driver-side values keyed like the frames: Bloom sketch
    * serializations, index-sizing counts, collected control-table
    * columns, and the [[graft.Tables]] parquet read plans. None of them
    * is persisted and [[ownedRddIds]] does not walk them. They are keyed
    * by the SESSION because the key is plan identity (path + predicate
    * hash), not data content: a dataset rewritten at the same path
    * between sessions must rebuild its values with the session rather
    * than serve a stale sketch.
    */
  private val values = new ConcurrentHashMap[String, AnyRef]()

  /** The driver-side value for `key` under session `s`, computed once
    * instead of one job (or footer read) per query construction. A key
    * names one type: every caller of a key must ask for the same `V`.
    * Callers must not mutate a returned array.
    */
  def cachedValue[V](s: SparkSession, key: String)(build: => V): V = {
    evictStopped()
    memo(values, s"${sessionKey(s)}:$key")(build.asInstanceOf[AnyRef]).asInstanceOf[V]
  }

  /** Memoized persisted-ancestor ids per frame entry ([[ownedRddIds]]).
    * A frame's backing storage (the InMemoryRelation's cached-batch RDD
    * for [[cached]], the checkpointed RDD for [[cachedCut]]) is created
    * once and never replaced, so the set is stable after first
    * computation. */
  private val ownedIdsCache = new ConcurrentHashMap[String, Set[Int]]()

  /** Ids of every persisted RDD that BACKS a live FrameCache frame of
    * session `s` — the storage a suite-wide bench must NOT evict
    * between queries (shared index/sketch artifacts), as opposed to
    * query-private persists/localCheckpoints (iterative-round frontier
    * frames, one-shot edge caches) that would otherwise accumulate
    * across a 200-query suite and evict each other's hot frames,
    * turning committed suite numbers into storage-eviction artifacts
    * instead of plan costs. Found by walking the frame's physical RDD
    * DAG: a cached frame's scan reads through the cached-batch RDD, a
    * cut frame's through its checkpointed RDD, so both appear as
    * persisted ancestors (nested FrameCache reads are captured
    * transitively).
    */
  def ownedRddIds(s: SparkSession): Set[Int] = {
    evictStopped()
    val prefix = sessionKey(s) + ":"
    val out = scala.collection.mutable.Set.empty[Int]
    frames.forEach { (key, df) =>
      if (key.startsWith(prefix))
        out ++= ownedIdsCache.computeIfAbsent(key, _ => persistedAncestors(df))
    }
    out.toSet
  }

  private def persistedAncestors(df: DataFrame): Set[Int] = {
    val seen = scala.collection.mutable.Set.empty[Int]
    def walk(r: org.apache.spark.rdd.RDD[_]): Unit =
      if (seen.add(r.id)) r.dependencies.foreach(d => walk(d.rdd))
    // toRdd plans through the cache lookup, forcing creation (and
    // persistent-registration) of the backing RDD if the frame has not
    // been materialized yet — so the intersection below cannot miss it.
    walk(df.queryExecution.toRdd)
    seen.toSet.intersect(
      df.sparkSession.sparkContext.getPersistentRDDs.keySet.toSet)
  }

  /** Drop every cached frame (test isolation, driver shutdown). */
  def clear(): Unit = {
    frames.values.forEach { df =>
      if (!df.sparkSession.sparkContext.isStopped) df.unpersist()
      ()
    }
    frames.clear()
    ownedIdsCache.clear()
    values.clear()
    buildLocks.clear()
    sessionPrefixes.clear()
  }
}

package graft.queries

import org.apache.spark.sql.SparkSession

/** Width-matched static construction for small-stage query families
  * (optimization r15). Two local-mode pathologies share one cure:
  *
  *  - persisted index/edge caches built at `spark.sql.shuffle.partitions`
  *    (= the core count in the bench) force every downstream stage to
  *    `cpus` near-empty tasks on KB–MB frames;
  *  - with AQE on, every exchange of such a query materializes as its
  *    own blocking stage job (measured 60–300 ms apiece on a 32-core
  *    local master — OPTIMIZATION_r15.md, "Wave 1"), so a 10-stage
  *    query pays ~10 job round-trips regardless of data volume.
  *
  * The cure: derive the cache width from DATA BYTES (never core count),
  * and compile the consuming query STATIC at that width — one job, tiny
  * stages, no per-stage materialization barriers. At cluster scale the
  * byte term produces hundreds of partitions and the static plan is the
  * same plan AQE would have settled on (join strategies are explicit,
  * the cache side's partitioning is fixed).
  */
private[graft] object Tuned {

  /** Bytes-on-disk → stage width: one task per `bytesPerTask`, clamped
    * to [2, 4 × defaultParallelism]. Floor 2 because a 1-partition
    * `repartition(1, col)` collapses to SinglePartition, which
    * EnsureRequirements refuses to co-locate joins against.
    */
  def widthForBytes(s: SparkSession, bytes: Long, bytesPerTask: Long): Int = {
    val cap = 4L * s.sparkContext.defaultParallelism
    math.max(2L, math.min(cap, bytes / bytesPerTask + 1L)).toInt
  }

  /** Total bytes of regular files under `p` (an on-disk index root). */
  def dirBytes(p: java.nio.file.Path): Long = {
    if (!java.nio.file.Files.exists(p)) return 0L
    val s = java.nio.file.Files.walk(p)
    try s.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
    finally s.close()
  }

  /** Run `body` with shuffle partitions scoped to `width` and adaptive
    * execution OFF, restoring the previous conf after. Plans compiled
    * inside (localCheckpoint rounds, or an `executedPlan` touch on the
    * returned frame) stay static and width-matched when executed later.
    */
  def withWidth[A](s: SparkSession, width: Int)(body: => A): A = {
    val pairs = Seq(
      "spark.sql.shuffle.partitions" -> width.toString,
      "spark.sql.adaptive.enabled" -> "false")
    val prev = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(p)) => s.conf.set(k, p)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** [[withWidth]] + pin: compiles `df`'s physical plan inside the
    * scope so the action later runs the static width-matched plan.
    */
  def pinned(s: SparkSession, width: Int)(
      body: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    withWidth(s, width) {
      val df = body
      df.queryExecution.executedPlan
      df
    }
}

package graft

import org.apache.spark.sql.catalyst.plans.{Cross, FullOuter, Inner, JoinType, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, LogicalPlan}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.{sf001, spark}

/** Structural guard over EVERY registered query's physical plan: no
  * CartesianProduct and no BroadcastNestedLoopJoin anywhere, so "never a
  * cross product" holds for future queries by construction, not only for
  * the ~36 individually audited plans in PlansSpec/PLANS.md. The only
  * tolerated shape is the broadcast SCALAR/control-table cross join
  * (a 1-row or catalog-sized build side joined without keys), which is
  * how per-corpus constants (total token count, centroid tables, scale
  * factors) reach every row — those queries are allowlisted BY NAME and
  * re-justified here so additions stay deliberate.
  *
  * The same sweep also rejects broadcast() hints that Spark must drop: a
  * hint on a join side its join type cannot build is dead code that
  * reads as a plan decision and logs a HintErrorLogger line per query.
  */
class PlanSweepSpec extends AnyFunSuite {

  /** Queries whose plan intentionally contains a keyless broadcast join
    * of a scalar/control frame (≤ centroid-table size, always wrapped in
    * broadcast()): the join multiplies rows by ~1, never n². */
  private val broadcastScalarAllowlist: Set[String] = Set(
    "sim_topk_brute", // probe rows × corpus: the brute-force baseline IS keyless by design
    "sim_recall_report", // embeds sim_topk_brute as its exact-truth side by definition
    "sim_quantize", // per-dim scale constants (1 row) against every embedding
    "sim_ivf_probe2", // probe × broadcast nprobe-bucket table (bounded by nlist)
    "sim_pq_topk", // probe × broadcast PQ codebook constants
    "ta_unigram_lp", "ta_tfidf", // 1-row corpus totals broadcast to every row
    "ta_bm25", // 1-row (N, total-length) stats broadcast to the matched postings
    "ta_kl_drift", // k-source totals × broadcast (V+1)-cell table: the dense smoothing grid, bounded by KlTopV
    "dd_jaccard_ngram", // DOCUMENTED bounded brute-force (doc_id < 50 ⇒ ≤ 1225 pairs): the exact-verification primitive whose scale path is the LSH candidate join
    "a15_hll_union" // two 1-row sketch-rollup frames (union estimate × per-source rollup) combined into the single output row
  )

  /** Every registered query, built once for both checks: its optimized
    * logical plan and its physical plan, rendered. */
  private lazy val plans: Seq[(String, LogicalPlan, String)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val qe = fn(spark, sf001).queryExecution
      (name, qe.optimizedPlan, qe.sparkPlan.toString)
    }

  test("no cartesian/nested-loop join in any registered query plan (sf0.001)") {
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    val unusedAllow = scala.collection.mutable.Set.empty[String] ++= broadcastScalarAllowlist
    plans.foreach { case (name, _, plan) =>
      val hasCross = plan.contains("CartesianProduct")
      val hasBnlj = plan.contains("BroadcastNestedLoopJoin")
      if (hasCross)
        // a true cartesian is never acceptable, allowlisted or not —
        // broadcast-scalar joins plan as BroadcastNestedLoopJoin
        offenders += s"$name: CartesianProduct"
      else if (hasBnlj && !broadcastScalarAllowlist(name))
        offenders += s"$name: BroadcastNestedLoopJoin (not allowlisted)"
      if (hasBnlj) unusedAllow -= name
    }
    assert(offenders.isEmpty,
      s"cross-product shapes found:\n  ${offenders.mkString("\n  ")}")
    // keep the allowlist honest: every entry must still be needed
    assert(unusedAllow.isEmpty,
      s"allowlist entries no longer needed (plan improved? remove them): $unusedAllow")
  }

  test("no broadcast hint on a join side its join type cannot build (sf0.001)") {
    def hinted(h: Option[HintInfo]): Boolean = h.exists(_.strategy.contains(BROADCAST))
    def buildsLeft(t: JoinType): Boolean = t == Inner || t == Cross || t == RightOuter
    def buildsRight(t: JoinType): Boolean = t != RightOuter && t != FullOuter
    val offenders = plans.flatMap { case (name, optimized, _) =>
      optimized.collectWithSubqueries { case j: Join => j }.flatMap { j =>
        Seq(
          Option.when(hinted(j.hint.leftHint) && !buildsLeft(j.joinType))(
            s"$name: broadcast hint on the left side of a ${j.joinType} join"),
          Option.when(hinted(j.hint.rightHint) && !buildsRight(j.joinType))(
            s"$name: broadcast hint on the right side of a ${j.joinType} join")
        ).flatten
      }
    }
    assert(offenders.isEmpty,
      s"broadcast hints Spark cannot honour:\n  ${offenders.mkString("\n  ")}")
  }
}

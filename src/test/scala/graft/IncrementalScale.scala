package graft

import org.apache.spark.sql.functions._

/** Scale proof for dd_incremental's per-batch-cost claim (test scope,
  * never shipped): one FIXED 500-doc arrival batch checked against the
  * persisted LSH signature index of sf0.1 (5 000 docs) and of sf1
  * (50 000 docs). If per-batch cost is independent of corpus size (the
  * COVERAGE.md claim), the two timings are ~flat while the index is 10×.
  * Run: sbt "Test/runMain graft.IncrementalScale"
  */
object IncrementalScale {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(32)

    def sigs(df: org.apache.spark.sql.DataFrame) =
      graft.queries.DedupQueries.minhashSigsFrame(df)
        .withColumn("shd", array_distinct(col("shingles"))).drop("shingles")

    // fixed batch: 500 docs, ids offset clear of both corpora
    val batch = sigs(Tables.documents(spark, "/root/testdata/sf0.01")
      .limit(500).withColumn("doc_id", col("doc_id") + 100000000L)).persist()
    batch.count()

    Seq("sf0.1" -> "/root/testdata/sf0.1", "sf1" -> "/root/repo/testdata-sf1")
      .foreach { case (label, dir) =>
        val idx = sigs(Tables.documents(spark, dir)).persist()
        val nIdx = idx.count() // index build+materialize excluded from batch timing
        val times = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val n = graft.queries.DedupQueries
            .incrementalDedupFromSigs(idx, batch)
            .queryExecution.toRdd.count()
          ((System.nanoTime() - t0) / 1e9, n)
        }
        println(f"[incr] index=$label%-6s docs=$nIdx%7d batch=500 " +
          f"per-batch=${times.map(_._1).min}%6.3f s (out=${times.head._2})")
        idx.unpersist()
      }
    spark.stop()
  }
}

package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Cluster-shape override knobs: a real deployment runs with hundreds
    // of shuffle partitions and AQE coalescing them back down, so the
    // correctness gate must also pass under that shape (catches any
    // small-N assumption — ladder thresholds, cached-frame reuse,
    // prefix-sum offsets — that local[cpus]==partitions would mask).
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val aqe = sys.env.getOrElse("SPARK_GRAFT_AQE", "true")
    val spark = LocalSession(cpus.toInt,
      "spark.sql.shuffle.partitions" -> shufflePartitions,
      "spark.sql.adaptive.enabled" -> aqe)
    new java.io.File(outDir).mkdirs()
    // comma-separated allowlist for local single-query iteration; the
    // driver leaves it unset and dumps everything (parse semantics in
    // SparkEntry.selectedQueries, shared with Bench).
    SparkEntry.selectedQueries("verify")
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Dump only the SELECTED queries' oracle entries: under a
    // SPARK_GRAFT_ONLY filter the unselected names have no parquet in
    // outDir, and a full oracle map would make check.py report one
    // spurious missing-file FAIL per unselected query.
    val selectedNames = SparkEntry.selectedQueries("verify").keySet
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => selectedNames(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.queries.FrameCache.clear()
    spark.stop()
  }
}

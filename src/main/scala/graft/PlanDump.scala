package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

/** Optimization-round plan snapshots: `explain("formatted")` for a list
  * of queries, one file per query, named `<query>_<suffix>.txt` under an
  * output directory — the before/after evidence files the optimization
  * rounds commit (plans/rNN/), a mechanical dump for diffing. The
  * audited scale property of each headline plan is asserted in
  * PlanSweepSpec and PlanChecksSpec.
  *
  * Run: `sbt "runMain graft.PlanDump <sfDir> <outDir> <suffix> <q1,q2,..>"`
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = Paths.get(args(1))
    val suffix = args(2)
    val names = args(3).split(",").map(_.trim).filter(_.nonEmpty)
    Files.createDirectories(outDir)
    val spark = LocalSession(4)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.writeString(outDir.resolve(s"${name}_$suffix.txt"), plan)
      println(s"wrote ${outDir.resolve(s"${name}_$suffix.txt")}")
    }
    spark.stop()
  }
}

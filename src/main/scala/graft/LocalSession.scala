package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft entry point, the test base or a scale harness
  * builds its local SparkSession. The session policy every caller shares:
  * graft's optimizer rules and SQL functions arrive with the session
  * ([[GraftExtensions]]), timestamps render in UTC, no UI, one shuffle
  * partition per core, and only WARN-and-above logs.
  *
  * A caller passes its core count and only the conf that differs from
  * that policy; `conf` pairs are applied last, so they override it.
  */
object LocalSession {
  def apply(cores: Int, conf: (String, String)*): SparkSession = {
    val policy = Seq(
      "spark.master" -> s"local[$cores]",
      "spark.sql.extensions" -> "graft.GraftExtensions",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> cores.toString)
    val spark = (policy ++ conf)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole ScalaTest run (sessions are
  * expensive; suites only read), built with the mains' session policy
  * ([[LocalSession]]) on 4 cores.
  */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = LocalSession(4, "spark.app.name" -> "graft-test")
    // Test-run teardown: drop FrameCache's persisted frames with the
    // session (suites share one session, so per-suite clears would
    // defeat the cache; end-of-JVM is the right boundary).
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      graft.queries.FrameCache.clear()))
    s
  }

  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.1"
}

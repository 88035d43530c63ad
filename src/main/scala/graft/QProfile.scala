package graft

/** Per-query cost decomposition for the optimization rounds: splits a
  * query invocation into (1) DataFrame construction (query-function
  * body: reads, FrameCache hits, driver-side control collects),
  * (2) planning (analysis + optimization + physical planning +
  * codegen-source generation via `executedPlan`), and (3) execution
  * (`toRdd.count()`), each timed separately over N reps. The bench times
  * all three fused; this says WHICH of them a slow entry is paying.
  *
  * Run: `SPARK_GRAFT_CPUS=32 sbt "runMain graft.QProfile <sfDir> <reps> <q1,q2,..>"`
  */
object QProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    def t[A](body: => A): (Double, A) = {
      val t0 = System.nanoTime(); val a = body; ((System.nanoTime() - t0) / 1e9, a)
    }
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // untimed warmup: JIT + codegen caches hot, FrameCache artifacts built
      try fn(spark, sfDir).queryExecution.toRdd.count()
      catch { case scala.util.control.NonFatal(e) => System.err.println(s"warmup $name: $e") }
      val rows = (0 until reps).map { _ =>
        val (tc, df) = t(fn(spark, sfDir))
        val (tp, _) = t(df.queryExecution.executedPlan)
        val (te, n) = t(df.queryExecution.toRdd.count())
        (tc, tp, te, n)
      }
      val best = rows.minBy(r => r._1 + r._2 + r._3)
      println(f"[qprofile] $name%-24s construct=${best._1}%7.3f plan=${best._2}%7.3f exec=${best._3}%7.3f rows=${best._4}")
    }
    spark.stop()
  }
}

package graft.validation

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Rule jobs submitted together from driver threads, keeping the
  * caller's Spark local properties. A global-pool thread carries the
  * properties of whichever thread created it, so a job started from a
  * plain `Future` runs under a stale job group: `cancelJobGroup`,
  * scheduler pools and per-group job accounting all miss it. [[apply]]
  * copies the caller's properties at submission, installs them for the
  * task and restores the pool thread's own afterwards (Spark's
  * `SQLExecution.withThreadLocalCaptured` does the same for
  * broadcasts). Each task gets its own copy: Spark sets
  * `spark.sql.execution.id` in the running thread's properties, so two
  * tasks must never share one object.
  */
private[graft] object Async {

  def apply[T](spark: SparkSession)(body: => T): Future[T] = {
    val sc = spark.sparkContext
    val props = Bridge.copyLocalProperties(sc)
    Future(Bridge.withLocalProperties(sc, props)(body))(ExecutionContext.global)
  }

  def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)
}

package graft.validation

import java.util.concurrent.{ExecutionException, Executors, ThreadFactory}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge

/** Jobs submitted together from driver threads (rule passes, study
  * stages), keeping the caller's Spark local properties. A pool thread
  * carries the properties of whichever thread created it, so a job
  * started from a plain `Future` runs under a stale job group: `cancelJobGroup`,
  * scheduler pools and per-group job accounting all miss it. [[apply]]
  * copies the caller's properties at submission, installs them for the
  * task and restores the pool thread's own afterwards (Spark's
  * `SQLExecution.withThreadLocalCaptured` does the same for
  * broadcasts). Each task gets its own copy: Spark sets
  * `spark.sql.execution.id` in the running thread's properties, so two
  * tasks must never share one object.
  *
  * Every task completes its future, whatever it throws: `Future.apply`
  * leaves a future pending on a fatal error (a `LinkageError`, say),
  * and an [[await]] on it would never return. [[await]] rethrows the
  * task's own exception: a promise boxes an `Error` or an
  * `InterruptedException` in an `ExecutionException`, which it unboxes.
  *
  * Tasks run on a cached pool of daemon threads of their own, never on
  * `ExecutionContext.global`: that pool has one slot per core, and a
  * task blocked in a Spark action keeps its slot (Spark's `awaitReady`
  * does not mark its wait `blocking`, SPARK-13747), so with more tasks
  * in flight than cores the extra ones would queue behind running jobs.
  * A task never waits for a thread here; idle threads exit after a
  * minute.
  */
private[graft] object Async {

  private val pool = Executors.newCachedThreadPool(new ThreadFactory {
    private val n = new AtomicInteger()
    override def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"graft-async-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  })

  def apply[T](spark: SparkSession)(body: => T): Future[T] = {
    val sc = spark.sparkContext
    val props = Bridge.copyLocalProperties(sc)
    val done = Promise[T]()
    pool.execute { () =>
      try done.success(Bridge.withLocalProperties(sc, props)(body))
      catch { case t: Throwable => done.failure(t) }
    }
    done.future
  }

  /** Runs `body` on the calling thread while `task` runs, and returns
    * both results once both have finished. A failure is rethrown only
    * then, never while the other side still runs: the body's exception
    * first, with the task's suppressed onto it.
    */
  def alongside[A, B](task: Future[A])(body: => B): (A, B) = {
    def attempt[T](t: => T): Either[Throwable, T] =
      try Right(t) catch { case e: Throwable => Left(e) }
    (attempt(body), attempt(await(task))) match {
      case (Right(b), Right(a)) => (a, b)
      case (Left(e), a) =>
        a.swap.foreach(s => if (s ne e) e.addSuppressed(s))
        throw e
      case (_, Left(e)) => throw e
    }
  }

  def await[T](f: Future[T]): T =
    try Await.result(f, Duration.Inf)
    catch {
      case e: ExecutionException
          if e.getCause.isInstanceOf[Error] || e.getCause.isInstanceOf[InterruptedException] =>
        throw e.getCause
    }
}

package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work attributed to one span: counted by the benchmark's own
  * listener from the job group the span sets around its body.
  */
final class Counts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs = 0L
  var inputBytes, shuffleBytes, spillBytes = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    inputBytes += o.inputBytes; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes
  }
}

/** One timed call into a layer. `parent` is the enclosing span's id
  * (-1 at the top); `self` counts hold only the jobs whose group is
  * this span, i.e. not those of its children.
  */
final case class Span(id: Int, parent: Int, name: String, startNs: Long,
                      var endNs: Long, self: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory for the whole run, read out at the end.
  *
  * Every span runs its body under its own job group (`pb-<id>`), so the
  * listener can attribute each job, stage and task to the innermost
  * span that launched it. Nothing in the engine sets job groups, and
  * Spark copies the caller's local properties onto the threads that run
  * broadcasts and subqueries, so the attribution is complete. While
  * `enabled` is false the listener returns at once and `span` only runs
  * its body: the untraced rounds of a traced run pay neither.
  */
final class Tracer(spark: SparkSession) extends SparkListener {
  @volatile var enabled = false
  private val sc = spark.sparkContext
  private val GroupKey = "spark.jobGroup.id"
  private val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private var peakHeap, peakStorage = 0L
  sc.addSparkListener(this)

  private def counts(group: String): Counts =
    byGroup.computeIfAbsent(group, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val g = Option(e.properties).map(_.getProperty(GroupKey)).orNull
    if (g != null && g.startsWith("pb-")) {
      val c = counts(g)
      c.synchronized(c.jobs += 1)
      e.stageIds.foreach(stageGroup.put(_, g))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val g = stageGroup.get(e.stageInfo.stageId)
    if (g != null) { val c = counts(g); c.synchronized(c.stages += 1) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val c = counts(g)
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Runs `body` as a span named `name`, nested in the open span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, open.headOption.map(_.id).getOrElse(-1), name,
        System.nanoTime(), 0L, null)
      spans += s
      open.push(s)
      val prev = sc.getLocalProperty(GroupKey)
      sc.setLocalProperty(GroupKey, s"pb-${s.id}")
      try body
      finally {
        s.endNs = System.nanoTime()
        open.pop()
        sc.setLocalProperty(GroupKey, prev)
        sample()
      }
    }

  /** Peak heap and storage memory, sampled whenever a span closes. */
  def sample(): Unit = {
    val rt = Runtime.getRuntime
    peakHeap = math.max(peakHeap, rt.totalMemory() - rt.freeMemory())
    peakStorage = math.max(peakStorage, sc.getRDDStorageInfo.map(_.memSize).sum)
  }
  def peakHeapMb: Double = peakHeap / 1048576.0
  def peakStorageMb: Double = peakStorage / 1048576.0

  /** Closed spans with their self counts, once every event of theirs
    * has been delivered.
    */
  def finished(): Seq[Span] = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    spans.toSeq.map(s => s.copy(self = Option(byGroup.get(s"pb-${s.id}")).getOrElse(new Counts)))
  }

  /** Self time: the span's duration minus the time its children cover. */
  def selfSeconds(all: Seq[Span]): Map[Int, Double] = {
    val child = all.filter(_.parent >= 0).groupBy(_.parent)
      .view.mapValues(_.map(_.seconds).sum).toMap
    all.map(s => s.id -> (s.seconds - child.getOrElse(s.id, 0.0))).toMap
  }

  /** Writes every span as one JSON line per span. */
  def write(path: java.nio.file.Path, all: Seq[Span]): Unit = {
    val self = selfSeconds(all)
    val lines = all.map { s =>
      val c = s.self
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        f""""self_s":${self(s.id)}%.6f,"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        f""""cpu_s":${c.cpuNs / 1e9}%.6f,"gc_s":${c.gcMs / 1e3}%.3f,"input_bytes":${c.inputBytes},""" +
        f""""shuffle_bytes":${c.shuffleBytes},"spill_bytes":${c.spillBytes}}"""
    }
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

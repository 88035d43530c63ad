package graft.perfbench

import java.nio.file.Paths

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` builds the classpath and starts
  * it with the pinned JVM flags and a fresh `java.io.tmpdir`; this
  * object sets up the workload, runs closed-loop rounds (one client,
  * one operation at a time) for the given number of seconds, checks
  * every output, and prints one JSON result line.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --golden <file> --trace-out <file> [--record-golden 1]`.
  */
object Main {

  /** Input passes per run; `setup_s` counts their median. */
  val InputPasses = 3
  /** Rounds a run measures at least, whatever `--seconds` says, so the
    * medians never rest on a single round.
    */
  val MinRounds = 2
  /** The seed the committed golden outputs were recorded at. */
  val GoldenSeed = 1L

  trait Workload {
    /** Generates the inputs from the seed into a fresh directory and
      * hands them to the engine's storage; the last pass's inputs are
      * the ones measured.
      */
    def prepareInputs(pass: Int): Unit
    /** Runs every operation once, untimed: JIT, code generation, shared
      * caches and durable artifacts.
      */
    def warmUp(): Unit
    def round(traced: Boolean): Seq[Op]
    /** Per-layer metrics from the traced rounds' spans. */
    def layers(spans: Seq[Span], tracedRounds: Int): Map[String, Double]
    /** Operations whose result changes when run again on the same
      * inputs: their goldens hold the row count only.
      */
    def unstable: Set[String] = Set.empty
  }

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val goldenFile = Paths.get(opt("golden"))
    val record = opt.get("record-golden").contains("1")
    val cores = Runtime.getRuntime.availableProcessors()

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val tracer = new Tracer(spark)

    val wl: Workload = name match {
      case "study_export_wide" => new StudyBench(spark, tracer, work, seed, StudyBench.Wide)
      case "query_suite"       => new QueryBench(spark, tracer, work, seed)
      case other               => throw new IllegalArgumentException(s"unknown workload $other")
    }

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    // set-up = session start + input generation (median of several
    // passes) + the warm-up over the measured inputs
    val inputS = median((0 until InputPasses).map(k => timed(wl.prepareInputs(k))))
    val setupS = sessionS + inputS + timed(wl.warmUp())

    // Closed loop: whole rounds until the time is up. A traced run
    // alternates untraced and traced rounds, so both see the same warm
    // state and their ratio is the tracing overhead.
    val plain = mutable.ArrayBuffer.empty[Seq[Op]]
    val withTrace = mutable.ArrayBuffer.empty[Seq[Op]]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (plain.size + withTrace.size < MinRounds || elapsed < seconds) {
      if (traced && plain.size > withTrace.size) {
        tracer.enabled = true
        withTrace += wl.round(traced = true)
        tracer.enabled = false
      } else plain += wl.round(traced = false)
    }

    if (record) {
      require(seed == GoldenSeed, s"goldens are recorded at seed $GoldenSeed")
      Golden.write(goldenFile, plain.flatten.toSeq, wl.unstable)
    }
    val golden = Golden.read(goldenFile)
    def ok(op: Op) = op.error.isEmpty && Golden.matches(golden, seed, op)
    val all = (plain ++ withTrace).flatten.toSeq
    val failures = all.filterNot(ok)
    failures.take(10).foreach(op => System.err.println(
      s"[perfbench] FAILED ${op.name}: ${op.error.getOrElse(s"golden mismatch: ${op.fingerprint.getOrElse("")}")}"))
    System.err.println(f"[perfbench] $name seed $seed: session ${sessionS}%.2f s, inputs ${inputS}%.2f s, " +
      f"setup ${setupS}%.2f s, ops " + all.map(op => f"${op.name}=${op.seconds}%.3f").mkString(" "))
    // a failed operation is never counted as a timing
    val good = plain.flatten.filter(ok).map(_.seconds).toSeq
    val roundTotals = plain.filter(_.forall(ok)).map(_.map(_.seconds).sum).toSeq

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("total_s", if (roundTotals.isEmpty) 0.0 else median(roundTotals), "s"),
        ("op_p50_s", if (good.isEmpty) 0.0 else median(good), "s"),
        ("op_p95_s", if (good.isEmpty) 0.0 else quantile(good, 0.95), "s"))
      else {
        val spans = tracer.finished()
        tracer.write(Paths.get(opt("trace-out")), spans)
        val tracedTotal = median(withTrace.map(_.map(_.seconds).sum).toSeq)
        val plainTotal = median(plain.map(_.map(_.seconds).sum).toSeq)
        val taskSeconds = spans.map(_.self.runMs).sum / 1e3
        val wall = withTrace.map(_.map(_.seconds).sum).sum
        val common = Map(
          "trace.total_s" -> tracedTotal,
          "trace.overhead_ratio" -> tracedTotal / plainTotal,
          "busy_ratio" -> taskSeconds / (wall * cores),
          "fail_ratio" -> failures.size.toDouble / all.size,
          "storage.peak_mb" -> tracer.peakStorageMb,
          "heap.peak_mb" -> tracer.peakHeapMb)
        val layer = Layers.defaults ++ common ++ wl.layers(spans, withTrace.size)
        Layers.names.map(n => (n, layer(n), Layers.unit(n)))
      }

    val body = metrics.map { case (k, v, u) => s""""$k":{"value":$v,"unit":"$u"}""" }.mkString(",")
    println(s"""{"correct":${failures.isEmpty},"attempted":${all.size},"failed":${failures.size},"metrics":{$body}}""")
    spark.stop()
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

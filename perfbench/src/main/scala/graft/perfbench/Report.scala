package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** One operation of a round: its latency, the fingerprint of what it
  * produced, and why it failed, if it did.
  */
final case class Op(name: String, seconds: Double, fingerprint: Option[String],
                    error: Option[String])

/** Golden fingerprints, one `name<TAB>fingerprint` line per operation,
  * recorded at [[Main.GoldenSeed]]. A query whose result is not
  * bit-stable is recorded as `rows=<n>` only and checked by row count.
  */
object Golden {
  def read(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, UTF_8).asScala.filter(_.contains("\t"))
      .map { l => val Array(k, v) = l.split("\t", 2); k -> v }.toMap

  def write(p: Path, ops: Seq[Op], rowsOnly: Set[String]): Unit = {
    val lines = ops.groupBy(_.name).toSeq.map { case (name, byName) =>
      val fp = byName.head.fingerprint.getOrElse("")
      name + "\t" + (if (rowsOnly(name)) fp.takeWhile(_ != ' ') else fp)
    }.sorted
    Files.write(p, lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }

  /** Whether `op` agrees with the golden. Only runs at the golden seed
    * are compared; the workloads check other seeds themselves.
    */
  def matches(golden: Map[String, String], seed: Long, op: Op): Boolean =
    seed != Main.GoldenSeed || ((golden.get(op.name), op.fingerprint) match {
      case (Some(g), Some(fp)) => fp == g || (!g.contains(' ') && fp.takeWhile(_ != ' ') == g)
      case _                   => false
    })
}

/** The per-layer metric names `--trace 1` prints, with their units. */
object Layers {
  private val spanCounts = Seq("s", "jobs", "stages", "tasks", "cpu_s", "gc_s", "input_mb",
    "shuffle_mb", "spill_mb")
  private val families = Seq("ref", "text", "dedup", "sim", "stream", "multimodal", "olap", "graph")

  val names: Seq[String] =
    StudyBench.Stages.flatMap(st => spanCounts.map(c => s"$st.$c")) ++
      Seq("maf_merge.files", "maf_merge.ms_per_file", "maf_write.rows_per_s", "annotate.success_ratio",
        "construct.s", "plan.s", "exec.s") ++
      families.flatMap(f => Seq("s", "jobs", "tasks", "shuffle_mb", "spill_mb").map(c => s"$f.$c")) ++
      Seq("q.v18_portal_rules.s", "q.v_report.s", "durable.builds", "durable.build_s", "framecache.rdds",
        "storage.peak_mb", "heap.peak_mb", "busy_ratio", "trace.overhead_ratio", "trace.total_s",
        "fail_ratio")

  /** A layer the workload does not reach reports 0. */
  val defaults: Map[String, Double] = names.map(_ -> 0.0).toMap

  def unit(n: String): String = n.split('.').last match {
    case "s" | "cpu_s" | "gc_s" | "build_s" | "total_s" => "s"
    case "jobs" | "stages" | "tasks" | "files" | "builds" | "rdds" => "count"
    case "ms_per_file" => "ms"
    case "rows_per_s" => "1/s"
    case m if m.endsWith("_mb") => "MB"
    case _ => "ratio"
  }
}

object Hashing {
  /** Row count and an order-insensitive hash of collected rows: the sum
    * of per-row MD5 prefixes, with floating-point values rounded to ten
    * significant digits so that summation order does not show.
    */
  def resultOf(rows: Array[org.apache.spark.sql.Row]): (Long, String) = {
    var acc = 0L
    rows.foreach { r =>
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(canonical(r).getBytes("UTF-8"))
      acc += java.nio.ByteBuffer.wrap(md, 0, 8).getLong
    }
    (rows.length.toLong, f"$acc%016x")
  }

  private def canonical(v: Any): String = v match {
    case null                          => "\\N"
    case d: Double                     => fmt(d)
    case f: Float                      => fmt(f.toDouble)
    case r: org.apache.spark.sql.Row   => r.toSeq.map(canonical).mkString("(", "\t", ")")
    case s: scala.collection.Seq[_]    => s.map(canonical).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + "=" + canonical(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte]                => b.map("%02x".format(_)).mkString
    case x                             => x.toString
  }

  private def fmt(d: Double): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else String.format(java.util.Locale.ROOT, "%.10g", Double.box(d))

  def sha256(p: Path): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(Files.readAllBytes(p)).map("%02x".format(_)).mkString
}

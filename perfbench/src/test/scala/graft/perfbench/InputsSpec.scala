package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a function of its seed: the same seed
  * gives byte-identical files, another seed different ones.
  */
class InputsSpec extends AnyFunSuite {

  /** Relative path → SHA-256 of every regular file under `root`. Spark
    * names its part files with a per-write id, so part files are keyed
    * by their table directory and their order there instead.
    */
  private def digest(root: Path): Map[String, String] = {
    val s = Files.walk(root)
    val files = try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
    files.filterNot { p => val n = p.getFileName.toString; n.startsWith(".") || n.startsWith("_") }
      .groupBy(p => root.relativize(p.getParent).toString)
      .toSeq.flatMap { case (dir, ps) =>
        val hashes = ps.map(Hashing.sha256)
        if (ps.exists(_.getFileName.toString.startsWith("part-")))
          hashes.sorted.zipWithIndex.map { case (h, i) => s"$dir/part#$i" -> h }
        else ps.map(p => root.relativize(p).toString).zip(hashes)
      }.toMap
  }

  /** Runs `gen` into a fresh temporary directory, digests it, deletes it. */
  private def generated(gen: Path => Unit): Map[String, String] = {
    val dir = Files.createTempDirectory("perfbench-inputs")
    try { gen(dir); digest(dir) }
    finally {
      val s = Files.walk(dir)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  private def studyInputs(seed: Long): Map[String, String] =
    generated(StudyGen.generate(seed, StudyBench.Wide, _))

  test("study inputs: same seed, same bytes; another seed, other bytes") {
    val a = studyInputs(7)
    assert(a.size == 4 * 12 + 4 + 6, a.keys.toSeq.sorted)
    assert(studyInputs(7) == a)
    assert(studyInputs(8) != a)
  }

  test("query corpus: same seed, same bytes; another seed, other bytes") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    try {
      def corpus(seed: Long): Map[String, String] =
        generated(dir => CorpusGen.generate(spark, seed, 0.0005, dir.toString))
      val a = corpus(7)
      assert(a.keys.map(_.takeWhile(_ != '/')).toSet == graft.Tables.names.map(_ + ".parquet").toSet)
      assert(corpus(7) == a)
      assert(corpus(8) != a)
    } finally spark.stop()
  }
}

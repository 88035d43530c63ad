package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** Round-trip tests of the TSV source/sink surface (SURVEY §2.1 S2-S4/K1/K3/K4):
  * %.12g floats, null → empty cell, #-header block, case lists, meta files.
  */
class TsvSpec extends AnyFunSuite {
  import spark.implicits._

  test("K1 single-file sink: %.12g floats, null as empty, header first") {
    val tmp = Files.createTempDirectory("tsv-spec").toString
    val f = s"$tmp/out.tsv"
    val df = Seq(
      (1L, Some(0.1), Some("a")),
      (2L, Some(3.0), None),
      (3L, None: Option[Double], Some("c"))
    ).toDF("id", "x", "s")
    Tsv.writeTsvFile(df, f)
    val lines = Files.readAllLines(Paths.get(f))
    assert(lines.get(0) == "id\tx\ts")
    assert(lines.get(1) == "1\t0.1\ta")
    assert(lines.get(2) == "2\t3\t")   // integral float without .0; null → empty
    assert(lines.get(3) == "3\t\tc")
    assert(lines.size == 4)
  }

  test("S3/S4 re-read skips the #-prefixed header block (cBioPortal 5-line header)") {
    val tmp = Files.createTempDirectory("tsv-spec").toString
    val f = s"$tmp/hdr.tsv"
    val df = Seq((1L, "x"), (2L, "y")).toDF("PATIENT_ID", "VAL")
    Tsv.writeTsvFile(df, f,
      headerBlock = Seq("#Patient ID\tValue", "#desc1\tdesc2", "#STRING\tSTRING", "#1\t1"))
    val back = Tsv.read(spark, f, comment = Some('#'))
    assert(back.columns.toSeq == Seq("PATIENT_ID", "VAL"))
    assert(back.count() == 2)
  }

  test("cells with tabs/quotes/newlines round-trip via minimal quoting") {
    val tmp = java.nio.file.Files.createTempDirectory("tsv-quote").toString
    val f = s"$tmp/q.tsv"
    val df = Seq(
      (1L, "plain"),
      (2L, "has\ttab"),
      (3L, "has \"quotes\""),
      (4L, "multi\nline")).toDF("id", "v")
    Tsv.writeTsvFile(df, f)
    val back = Tsv.read(spark, f, inferSchema = false, multiLine = true)
      .selectExpr("CAST(id AS LONG) AS id", "v")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(back(1L) == "plain")
    assert(back(2L) == "has\ttab")
    assert(back(3L) == "has \"quotes\"")
    assert(back(4L) == "multi\nline")
  }

  test("a failed write leaves no temp directory behind") {
    def tsvTemps(): Set[String] = {
      val listing = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
      try listing.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("graft-tsv")).toSet
      finally listing.close()
    }
    val before = tsvTemps()
    val df = Seq(1L, 2L).toDF("id")
      .withColumn("boom", org.apache.spark.sql.functions.raise_error(
        org.apache.spark.sql.functions.lit("boom")))
    val target = Files.createTempDirectory("tsv-fail").resolve("out.tsv").toString
    intercept[Exception](Tsv.writeTsvFile(df, target))
    assert((tsvTemps() -- before).isEmpty)
  }

  test("roundtrip preserves values through write+read") {
    val tmp = Files.createTempDirectory("tsv-spec").toString
    val f = s"$tmp/rt.tsv"
    val df = Seq((1L, 1.5, "a"), (2L, 231.0 / 30.44, "b")).toDF("id", "x", "s")
    Tsv.writeTsvFile(df, f)
    val back = Tsv.read(spark, f).orderBy("id").collect()
    assert(back(0).getDouble(1) == 1.5)
    assert(math.abs(back(1).getDouble(1) - 7.58869908016) < 1e-11)
  }

  test("K3 case lists: one file per sanitized type, ids tab-joined, 5 lines") {
    val tmp = Files.createTempDirectory("tsv-spec").toString
    val df = Seq(("Lung Cancer", "s1"), ("Lung Cancer", "s2"), ("NA", "s3"))
      .toDF("CANCER_TYPE", "SAMPLE_ID")
    val written = Tsv.writeCaseLists(df, "CANCER_TYPE", "SAMPLE_ID", "study1", tmp)
    assert(written.map(_.getFileName.toString).toSet ==
      Set("cases_Lung_Cancer.txt", "cases_no_oncotree_code.txt"))
    val lung = Files.readAllLines(Paths.get(tmp, "cases_Lung_Cancer.txt"))
    assert(lung.get(0) == "cancer_study_identifier: study1")
    assert(lung.get(1) == "stable_id: study1_Lung_Cancer")
    assert(lung.get(4) == "case_list_ids: s1\ts2")
  }

  test("K3 case lists: types that sanitize to one name share one sorted list") {
    val tmp = Files.createTempDirectory("tsv-spec").toString
    // null, "" and "NA" all name cases_no_oncotree_code.txt; "A/B" and
    // "A_B" both name cases_A_B.txt. Each file must hold every id of its
    // name in one list, sorted in Spark's order — not the last group's.
    val df = Seq[(String, String)](
      (null, "s9"), ("", "s3"), ("NA", "s1"), ("NA", null),
      ("A/B", "s4"), ("A_B", "s2"), ("A/B", "s0"),
      // UTF-8 order puts U+FF21 before U+1F600; a JVM String sort
      // (UTF-16 units, surrogate 0xD83D < 0xFF21) would not
      ("A/B", "\uD83D\uDE00"), ("A_B", "\uFF21"))
      .toDF("CANCER_TYPE", "SAMPLE_ID")
    val written = Tsv.writeCaseLists(df, "CANCER_TYPE", "SAMPLE_ID", "study1", tmp)
    assert(written.map(_.getFileName.toString).sorted ==
      Seq("cases_A_B.txt", "cases_no_oncotree_code.txt"))
    def ids(f: String) = Files.readAllLines(Paths.get(tmp, f)).get(4)
    assert(ids("cases_no_oncotree_code.txt") == "case_list_ids: s1\ts3\ts9")
    assert(ids("cases_A_B.txt") == "case_list_ids: s0\ts2\ts4\t\uFF21\t\uD83D\uDE00")
  }

  test("K4 meta file: key-value lines") {
    val tmp = Files.createTempDirectory("tsv-spec").toString
    Tsv.writeMetaFile(s"$tmp/meta_study.txt", Seq(
      "cancer_study_identifier" -> "study1",
      "reference_genome" -> "hg38"))
    val lines = Files.readAllLines(Paths.get(tmp, "meta_study.txt"))
    assert(lines.get(0) == "cancer_study_identifier: study1")
    assert(lines.get(1) == "reference_genome: hg38")
  }

  test("K7 clearDir: recreates an empty dir") {
    val tmp = Files.createTempDirectory("tsv-spec").toString
    Files.writeString(Paths.get(tmp, "junk.txt"), "x")
    Tsv.clearDir(tmp)
    assert(Files.list(Paths.get(tmp)).count() == 0)
  }

  test("readWritten: the column line gives an all-string schema and no header job") {
    val tmp = Files.createTempDirectory("tsv-spec").toString
    Files.writeString(Paths.get(tmp, "ok.txt"),
      "#Patient\tAge\n#STRING\tNUMBER\nPATIENT_ID\tAGE\n007\t\"4\n2\"\nP2\t\n")
    Files.writeString(Paths.get(tmp, "dup.txt"), "A\ta\t\nx\ty\tz\n")
    val sc = spark.sparkContext
    sc.setJobGroup("tsv-read-written", "schema")
    val ok = try Tsv.readWritten(spark, tmp, "ok.txt").get finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup("tsv-read-written").isEmpty,
      "building the read-back must run no Spark job")
    assert(ok.schema.map(f => (f.name, f.dataType.simpleString)) ==
      Seq(("PATIENT_ID", "string"), ("AGE", "string")))
    assert(ok.collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("007", "4\n2"), ("P2", null)))
    // names Spark's header read rewrites (case-insensitive repeat, empty)
    // keep that read
    val dup = Tsv.readWritten(spark, tmp, "dup.txt").get
    assert(dup.columns.toSeq ==
      spark.read.options(Tsv.Dialect).csv(s"$tmp/dup.txt").columns.toSeq)
    assert(Tsv.readWritten(spark, tmp, "absent.txt").isEmpty)
  }
}

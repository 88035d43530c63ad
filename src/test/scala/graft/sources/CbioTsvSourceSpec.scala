package graft.sources

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** The `cbio` DataSource V2: reads the reference's headered clinical TSV
  * (4 `#`-metadata lines + header + data), typing NUMBER columns as
  * double, surfacing display-name/priority as field metadata, and
  * scanning through Spark's CSV reader (pruning and pushdown included).
  */
class CbioTsvSourceSpec extends AnyFunSuite {
  import spark.implicits._

  private def writeFixture(): String = {
    val tmp = Files.createTempDirectory("cbio-src").toString
    val f = s"$tmp/data_clinical_sample.txt"
    val df = Seq(
      ("s1", "p1", Some(12.5), "LUAD"),
      ("s2", "p1", None, "BRCA"),
      ("s3", "p2", Some(3.0), "LUAD"))
      .toDF("SAMPLE_ID", "PATIENT_ID", "TMB", "CANCER_TYPE")
    Tsv.writeTsvFile(df, f, headerBlock = Seq(
      "#Sample ID\tPatient ID\tTMB Score\tCancer Type",
      "#The sample id\tThe patient id\tMutation burden\tOncotree name",
      "#STRING\tSTRING\tNUMBER\tSTRING",
      "#1\t1\t2\t1"))
    f
  }

  test("schema: NUMBER -> double, metadata from the header block") {
    val f = writeFixture()
    // a blank line between the block and the column line is skipped, as
    // the scan skips it
    val blank = java.nio.file.Paths.get(f.replace(".txt", "_blank.txt"))
    val lines = Files.readAllLines(java.nio.file.Paths.get(f))
    lines.add(4, "")
    Files.write(blank, lines)
    Seq(f, blank.toString).foreach { path =>
      val df = spark.read.format("cbio").load(path)
      val s = df.schema
      assert(s.fieldNames.toSeq == Seq("SAMPLE_ID", "PATIENT_ID", "TMB", "CANCER_TYPE"))
      assert(s("TMB").dataType == DoubleType)
      assert(s("SAMPLE_ID").dataType == StringType)
      assert(s("TMB").metadata.getString("displayName") == "TMB Score")
      assert(s("TMB").metadata.getString("priority") == "2")
      assert(s("CANCER_TYPE").metadata.getString("description") == "Oncotree name")
      assert(df.count() == 3)
    }
  }

  test("values: rows parsed, empty cell -> null, numbers typed") {
    val df = spark.read.format("cbio").load(writeFixture())
    val rows = df.collect().map(r => r.getString(0) -> Option(r.get(2))).toMap
    assert(rows.size == 3)
    assert(rows("s1").contains(12.5))
    assert(rows("s2").isEmpty) // empty TSV cell -> null double
    assert(df.filter(col("CANCER_TYPE") === "LUAD").count() == 2)
  }

  test("column pruning reaches the reader (projection in the scan output)") {
    val df = spark.read.format("cbio").load(writeFixture()).select("SAMPLE_ID")
    val scan = df.queryExecution.executedPlan.collectLeaves().head
    assert(scan.output.map(_.name) == Seq("SAMPLE_ID"),
      s"scan must emit only the pruned column, got ${scan.output}")
    assert(df.as[String].collect().sorted.toSeq == Seq("s1", "s2", "s3"))
  }

  test("file without a header block degrades to all-string untyped columns") {
    val tmp = Files.createTempDirectory("cbio-nohdr").toString
    val f = s"$tmp/plain.txt"
    Files.writeString(java.nio.file.Paths.get(f), "A\tB\n1\tx\n2\ty\n")
    val df = spark.read.format("cbio").load(f)
    assert(df.schema.fields.forall(_.dataType == StringType))
    assert(df.count() == 2)
    assert(df.select("A").as[String].collect().sorted.toSeq == Seq("1", "2"))
  }

  test("quoted cells (from the K1 writer) unquote on read") {
    val tmp = Files.createTempDirectory("cbio-quote").toString
    val f = s"$tmp/q.txt"
    val df = Seq(("s1", "desc with \"quotes\""), ("s2", "plain"))
      .toDF("SAMPLE_ID", "NOTE")
    Tsv.writeTsvFile(df, f)
    val back = spark.read.format("cbio").load(f)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back("s1") == "desc with \"quotes\"")
    assert(back("s2") == "plain")
  }

  test("round-trips the pipeline's own export (written by Tsv, read by cbio)") {
    val df = spark.read.format("cbio").load(writeFixture())
    // sum over the typed NUMBER column: 12.5 + 3.0, null skipped
    assert(df.agg(sum("TMB")).head().getDouble(0) == 15.5)
  }

  test("cells with embedded tabs and newlines round-trip without misalignment") {
    val tmp = Files.createTempDirectory("cbio-sep").toString
    val f = s"$tmp/sep.txt"
    val df = Seq(
      ("s1", "a\tb", "after-tab"),
      ("s2", "line1\nline2", "after-nl"),
      ("s3", "cr\rhere", "after-cr"),
      ("s4", "plain", "ok"))
      .toDF("SAMPLE_ID", "NOTE", "TRAIL")
    Tsv.writeTsvFile(df, f)
    val back = spark.read.format("cbio").load(f)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(back.size == 4) // an unquoted newline would have split s2 into 2 rows
    assert(back("s1") == ("a\tb", "after-tab")) // unquoted tab would shift TRAIL
    assert(back("s2") == ("line1\nline2", "after-nl"))
    assert(back("s3") == ("cr\rhere", "after-cr"))
    assert(back("s4") == ("plain", "ok"))
  }

  // ---- filter pushdown (Spark's CSV scan, residual re-checked) ----

  private def csvScan(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.executedPlan.collectLeaves().head
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.BatchScanExec]
      .scan.asInstanceOf[org.apache.spark.sql.execution.datasources.v2.csv.CSVScan]

  private def scanDescription(df: org.apache.spark.sql.DataFrame): String =
    csvScan(df).description()

  test("cbio and synapse both plan Spark's CSVScan with pruned columns and pushed filters") {
    // a glob character in the directory name is read literally
    val dir = Files.createTempDirectory("cbio-[plan]").toString
    val root = s"$dir/store"
    val id = SynapseStore.store(spark.read.format("cbio").load(writeFixture()), root,
      "data_clinical_sample.txt", "synFolder")
    Seq(spark.read.format("cbio").load(SynapseStore.get(root, id)),
      spark.read.format("synapse").option("store", root).load(id)).foreach { src =>
      val df = src.filter(col("TMB") > 5.0).select("SAMPLE_ID")
      val scan = csvScan(df)
      assert(scan.readSchema().fieldNames.toSeq == Seq("SAMPLE_ID", "TMB"))
      assert(scan.pushedFilters.map(_.toString).toSeq
        .contains("GreaterThan(TMB,5.0)"), scan.description())
      assert(!scan.estimateStatistics().sizeInBytes().isPresent) // UnsizedCsvScanBuilder
      assert(df.as[String].collect().toSeq == Seq("s1"))
    }
  }

  test("a first-column cell starting with # survives every writer/reader pair") {
    val tmp = Files.createTempDirectory("cbio-hash").toString
    val df = Seq(("#x", "a"), ("y", "#b")).toDF("SAMPLE_ID", "NOTE")
    val want = Seq(("#x", "a"), ("y", "#b"))
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    Tsv.writeTsvFile(df, s"$tmp/k1.txt")
    assert(rows(spark.read.format("cbio").load(s"$tmp/k1.txt")) == want)
    assert(rows(Tsv.read(spark, s"$tmp/k1.txt", comment = Some('#'))) == want)
    df.write.format("cbio").mode("append").save(s"$tmp/sink")
    assert(rows(spark.read.format("cbio").load(s"$tmp/sink")) == want)
  }

  test("both sinks write the same data lines for every type at a non-UTC session zone") {
    val ny = spark.newSession()
    ny.conf.set("spark.sql.session.timeZone", "America/New_York")
    val tmp = Files.createTempDirectory("cbio-parity").toString
    val id = col("id")
    // row 2 is all nulls; rows 0 and 1 straddle the 2024 DST switch
    def v(c: org.apache.spark.sql.Column) = when(id =!= 2, c)
    val df = ny.range(0, 3, 1, 1).select(
      v(concat(lit("#s"), id, lit("\t\"q\""))).as("STR"),
      v(id / 3.0).as("DBL"),
      v((id / 3.0).cast("float")).as("FLT"),
      v(id * 10000000000L).as("LNG"),
      v(id.cast("int") - 5).as("INT"),
      v(id.cast("short")).as("SHT"),
      v(id.cast("byte")).as("BYT"),
      v(id % 2 === 0).as("BOOL"),
      v((id / 7).cast("decimal(12,4)")).as("DEC"),
      v(date_add(lit("2024-03-09").cast("date"), id.cast("int"))).as("DT"),
      v(timestamp_seconds(lit(1710052200L) + id * 3600)).as("TS"))
    Tsv.writeTsvFile(df, s"$tmp/k1.txt")
    df.write.format("cbio").mode("append").save(s"$tmp/sink")
    val k1 = Files.readAllLines(java.nio.file.Paths.get(s"$tmp/k1.txt")).asScala.toSeq
    val parts = Files.list(java.nio.file.Paths.get(s"$tmp/sink")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    assert(parts.size == 1)
    val sink = Files.readAllLines(parts.head).asScala.toSeq
    assert(sink.drop(4) == k1, s"K1:\n${k1.mkString("\n")}\ncbio:\n${sink.mkString("\n")}")
    // 06:30 UTC is 01:30 EST; an hour later the clocks have moved to EDT
    assert(k1(1).endsWith("\t2024-03-09\t2024-03-10 01:30:00"), k1(1))
    assert(k1(2).endsWith("\t2024-03-10\t2024-03-10 03:30:00"), k1(2))
    assert(k1(3) == "\t" * 10)
  }

  test("a one-column row with a null cell survives every writer/reader pair") {
    val tmp = Files.createTempDirectory("cbio-blank").toString
    val df = Seq(Some("a"), None).toDF("SAMPLE_ID")
    def ids(d: org.apache.spark.sql.DataFrame) = d.collect().map(r => Option(r.getString(0))).toSet
    Tsv.writeTsvFile(df, s"$tmp/k1.txt")
    assert(ids(spark.read.format("cbio").load(s"$tmp/k1.txt")) == Set(Some("a"), None))
    assert(ids(Tsv.read(spark, s"$tmp/k1.txt", comment = Some('#'))) == Set(Some("a"), None))
    df.write.format("cbio").mode("append").save(s"$tmp/sink")
    assert(ids(spark.read.format("cbio").load(s"$tmp/sink")) == Set(Some("a"), None))
  }

  test("a part whose header differs from the schema fails the read") {
    val dir = Files.createTempDirectory("cbio-hdr").toString + "/ds"
    Seq(("s1", 1.0)).toDF("SAMPLE_ID", "SCORE").write.format("cbio").mode("append").save(dir)
    // whichever part's header gives the schema, the other part's differs
    Seq((2.0, "s2")).toDF("SCORE", "SAMPLE_ID").write.format("cbio").mode("append").save(dir)
    val e = intercept[Exception](spark.read.format("cbio").load(dir).collect())
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("header"))), e.toString)
  }

  test("pushdown: supported predicates reach the reader; result matches post-hoc filter") {
    val f = writeFixture()
    val df = spark.read.format("cbio").load(f)
    val filtered = df.filter(col("TMB") > 5.0 && col("CANCER_TYPE") === "LUAD")
    val desc = scanDescription(filtered)
    assert(desc.contains("GreaterThan(TMB,5.0)"), desc)
    assert(desc.contains("EqualTo(CANCER_TYPE,LUAD)"), desc)
    val rows = filtered.collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("s1")) // 12.5 LUAD; null TMB dropped
  }

  test("pushdown: Spark double semantics (NaN greatest, -0.0 = 0.0) are not violated") {
    val tmp = Files.createTempDirectory("cbio-push").toString
    val f = s"$tmp/num.txt"
    val df = Seq(("a", Double.NaN), ("b", -0.0), ("c", 1.5), ("d", 3.0))
      .toDF("K", "SCORE")
    Tsv.writeTsvFile(df, f, headerBlock = Seq(
      "#K\tScore", "#k\tv", "#STRING\tNUMBER", "#1\t1"))
    val src = spark.read.format("cbio").load(f)
    // NaN sorts greatest in Spark: > 2.0 keeps NaN and 3.0. A pushed eval
    // using primitive > would WRONGLY drop NaN before the residual runs.
    assert(src.filter(col("SCORE") > 2.0).collect().map(_.getString(0)).sorted.toSeq
      == Seq("a", "d"))
    // -0.0 normalizes equal to 0.0 ("-0" is Format12g's rendering)
    assert(src.filter(col("SCORE") === 0.0).collect().map(_.getString(0)).toSeq
      == Seq("b"))
  }

  test("pushdown: string inequalities stay residual-only, equality pushes") {
    val f = writeFixture()
    val src = spark.read.format("cbio").load(f)
    val ineq = src.filter(col("CANCER_TYPE") > "B")
    assert(ineq.count() == 3)
    val eq = src.filter(col("PATIENT_ID") === "p1")
    assert(scanDescription(eq).contains("EqualTo(PATIENT_ID,p1)"))
    assert(eq.count() == 2)
  }

  // ---- write path (K6 / `save_to_synapse` surface, reference load.py:38-82) ----

  test("write: fresh-dir save round-trips values and types through the reader") {
    val dir = Files.createTempDirectory("cbio-w").toString + "/ds"
    val df = Seq(
      ("s1", 12.5, 3L, true),
      ("s2", Double.NaN, -7L, false),
      ("s3", 0.1 + 0.2, 0L, true))
      .toDF("SAMPLE_ID", "SCORE", "COUNT", "FLAG")
    df.repartition(3).write.format("cbio").mode("append").save(dir)
    val back = spark.read.format("cbio").load(dir)
    // NUMBER columns (double AND long) read back typed double; bool is STRING
    assert(back.schema("SCORE").dataType == DoubleType)
    assert(back.schema("COUNT").dataType == DoubleType)
    assert(back.schema("FLAG").dataType == StringType)
    val rows = back.collect().map(r => r.getString(0) -> ((r.get(1), r.get(2), r.get(3)))).toMap
    assert(rows("s1") == ((12.5, 3.0, "true")))
    assert(rows("s2")._1.asInstanceOf[Double].isNaN && rows("s2")._2 == -7.0)
    assert(rows("s3")._1 == 0.3) // %.12g rounds 0.30000000000000004 to 12 sig digits
  }

  test("write: version sidecar bumps per store and carries the version comment") {
    val dir = Files.createTempDirectory("cbio-v").toString + "/ds"
    val df = Seq(("s1", 1.0)).toDF("SAMPLE_ID", "SCORE")
    df.write.format("cbio").option("versionComment", "initial export")
      .mode("overwrite").save(dir)
    assert(CbioTsvSource.currentVersion(dir).contains((1L, "initial export")))
    df.write.format("cbio").option("versionComment", "round \"5\" refresh")
      .mode("overwrite").save(dir)
    assert(CbioTsvSource.currentVersion(dir).contains((2L, "round \"5\" refresh")))
    // the sidecar is invisible to the reader
    assert(spark.read.format("cbio").load(dir).count() == 1)
  }

  test("write: append adds parts, overwrite replaces them") {
    val dir = Files.createTempDirectory("cbio-m").toString + "/ds"
    val df = Seq(("s1", 1.0), ("s2", 2.0)).toDF("SAMPLE_ID", "SCORE")
    df.write.format("cbio").mode("overwrite").save(dir)
    df.write.format("cbio").mode("append").save(dir)
    assert(spark.read.format("cbio").load(dir).count() == 4)
    assert(CbioTsvSource.currentVersion(dir).map(_._1).contains(2L))
    df.write.format("cbio").mode("overwrite").save(dir)
    assert(spark.read.format("cbio").load(dir).count() == 2)
    assert(CbioTsvSource.currentVersion(dir).map(_._1).contains(3L))
  }

  test("write: empty partitions leave no part files") {
    val dir = Files.createTempDirectory("cbio-e").toString + "/ds"
    Seq(("s1", 1.0), ("s2", 2.0), ("s3", 3.0)).toDF("SAMPLE_ID", "SCORE")
      .repartition(16).write.format("cbio").mode("append").save(dir)
    val parts = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString).filter(n => !n.startsWith("_") && !n.startsWith(".")).toSeq
    assert(parts.nonEmpty && parts.size <= 3, s"expected <=3 data files, got $parts")
    assert(spark.read.format("cbio").load(dir).count() == 3)
  }

  test("write: clinical header metadata survives a cbio read -> write -> read") {
    val dir = Files.createTempDirectory("cbio-meta").toString + "/ds"
    val first = spark.read.format("cbio").load(writeFixture())
    first.write.format("cbio").mode("append").save(dir)
    val s = spark.read.format("cbio").load(dir).schema
    assert(s("TMB").dataType == DoubleType)
    assert(s("TMB").metadata.getString("displayName") == "TMB Score")
    assert(s("TMB").metadata.getString("priority") == "2")
    assert(s("CANCER_TYPE").metadata.getString("description") == "Oncotree name")
  }

  test("write: QUOTE_MINIMAL cells (tabs, newlines, quotes) round-trip") {
    val dir = Files.createTempDirectory("cbio-wq").toString + "/ds"
    val df = Seq(
      ("s1", "a\tb"), ("s2", "l1\nl2"), ("s3", "say \"hi\""), ("s4", "plain"))
      .toDF("SAMPLE_ID", "NOTE")
    df.write.format("cbio").mode("append").save(dir)
    val back = spark.read.format("cbio").load(dir)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(back == Map("s1" -> "a\tb", "s2" -> "l1\nl2", "s3" -> "say \"hi\"", "s4" -> "plain"))
  }

  test("write: nested column types are rejected with a clear error") {
    val dir = Files.createTempDirectory("cbio-bad").toString + "/ds"
    val df = Seq(("s1", Seq(1, 2))).toDF("SAMPLE_ID", "VALS")
    val e = intercept[Exception] {
      df.write.format("cbio").mode("append").save(dir)
    }
    assert(e.getMessage.contains("VALS") || Option(e.getCause).exists(_.getMessage.contains("VALS")))
  }

  test("write: StudyValidator consumes a cbio-written study directory") {
    val study = Files.createTempDirectory("cbio-study").toString
    // each required output written as a cbio dataset directory
    val sample = Seq(("s1", "p1", "LUAD"), ("s2", "p2", "BRCA"))
      .toDF("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE")
    graft.Schemas.RequiredOutputFiles.foreach { f =>
      sample.write.format("cbio").option("versionComment", s"r5 $f").mode("overwrite").save(s"$study/$f")
    }
    assert(graft.pipelines.StudyValidator.missingFiles(study).isEmpty)
    val outputs = graft.pipelines.StudyValidator.loadAllOutputs(spark, study)
    val clin = outputs("data_clinical_sample.txt")
    assert(clin.isDefined && clin.get.count() == 2)
    assert(clin.get.columns.toSeq == Seq("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE"))
    // the portal structural rules accept directory-shaped clinical
    // outputs and check every part's header block (a package of only the
    // clinical files: the meta files above are directories too, which
    // the structural rules do not parse)
    val clinicalDirs = Files.createTempDirectory("cbio-clinical").toString
    Seq("data_clinical_sample.txt", "data_clinical_patient.txt").foreach { f =>
      sample.repartition(2).write.format("cbio").mode("overwrite").save(s"$clinicalDirs/$f")
    }
    def headerRule() = graft.validation.PortalRules.structuralReport(clinicalDirs)
      .find(_._1 == "portal_clinical_header_block").get
    assert(headerRule()._3, headerRule().toString)
    // a later part with a short block is caught on its own
    Files.writeString(java.nio.file.Paths.get(clinicalDirs, "data_clinical_sample.txt",
      "part-99999-bad.cbio.txt"), "#Sample ID\n#STRING\nSAMPLE_ID\ns9\n")
    assert(headerRule() == (("portal_clinical_header_block", 1L, false)))
  }

  test("NUMBER cells: nan/inf/-inf (Format12g renderings) and NA parse leniently") {
    val tmp = Files.createTempDirectory("cbio-num").toString
    val f = s"$tmp/num.txt"
    // write a frame containing NaN/Inf doubles through the sink itself
    val df = Seq(
      ("s1", Double.NaN), ("s2", Double.PositiveInfinity),
      ("s3", Double.NegativeInfinity), ("s4", 1.5))
      .toDF("SAMPLE_ID", "SCORE")
    Tsv.writeTsvFile(df, f, headerBlock = Seq(
      "#Sample\tScore", "#id\tval", "#STRING\tNUMBER", "#1\t1"))
    // append an upstream-style 'NA' row (common in cBioPortal files)
    Files.writeString(java.nio.file.Paths.get(f),
      Files.readString(java.nio.file.Paths.get(f)) + "s5\tNA\n")
    val back = spark.read.format("cbio").load(f)
      .collect().map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(back("s1").exists(v => v.asInstanceOf[Double].isNaN))
    assert(back("s2").contains(Double.PositiveInfinity))
    assert(back("s3").contains(Double.NegativeInfinity))
    assert(back("s4").contains(1.5))
    assert(back("s5").isEmpty) // NA -> null, not a task crash
  }
}

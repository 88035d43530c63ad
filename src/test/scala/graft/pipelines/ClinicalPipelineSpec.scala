package graft.pipelines

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark
import graft.validation.Rules

/** End-to-end clinical pipeline over reference-shaped frames. Goldens are
  * lifted from the reference's own tests
  * (`/root/reference/tests/test_clinical.py` — id remap fallback
  * :229-293, filter null/case semantics :91-128, days→months 231→7.59
  * :21-43, recode pass-through :581-613).
  */
class ClinicalPipelineSpec extends AnyFunSuite {
  import spark.implicits._

  private def clinicalFixture = Seq(
    // sample, patient, paper sample, paper patient, ds, tcga, amadeus, os_status, os_days
    ("s1", "p1", "ps1", "pp1", "DsA", "LUAD", "amA", Some(0), Some(231.0)),
    ("s2", "p2", null, null, "DsA", "LUAD", "amA", Some(1), Some(706.208)),
    ("s3-nd-x", "p3", "s3-nd-x", "pp3", "Anders_JITC_2022", "SKCM", "amB", Some(2), None),
    ("s4", "p4", "ps4", "pp4", "Anders_JITC_2022", "SKCM", "amB", None, Some(30.44))
  ).toDF("sample_name", "patient_name", "study_sample_name", "study_patient_name",
    "Dataset", "TCGA_Study", "AMADEUS_Study", "OS_STATUS", "OS_MONTHS")

  private def oncotreeFixture = Seq(
    ("LUAD", "amA", "DsA", "LUAD"),
    ("SKCM", "amB", "Anders_JITC_2022", "SKCM"))
    .toDF("TCGA_Study", "AMADEUS_Study", "Dataset", "ONCOTREE_CODE")

  private def neoFixture = Seq(("ps1", 12L)).toDF("SAMPLE_ID", "SNV")

  private def attrMappingFixture = Seq(
    ("OS_STATUS", "OS_STATUS", "PATIENT", null),
    ("OS_MONTHS", "OS_MONTHS", "PATIENT", null),
    ("SNV", "SNV", "SAMPLE", null),
    ("ONCOTREE_CODE", "ONCOTREE_CODE", "SAMPLE", "CAPS"))
    .toDF("iATLAS_attribute", "NORMALIZED_HEADER", "ATTRIBUTE_TYPE", "Case")

  test("preprocess: id remap fallback, filter, recode, days->months goldens") {
    val (out, neoObs, neoRules) = ClinicalPipeline.preprocessObserved(
      clinicalFixture, oncotreeFixture, neoFixture, attrMappingFixture)
    val rows = out.collect().map(r => r.getAs[String]("SAMPLE_ID") -> r).toMap

    // V16, observed by the collect above
    assert(Rules.observedRows(neoObs, neoRules).map(_._2) == Seq(0L))
    // F4: paper id where present, fallback to original
    assert(rows.contains("ps1") && rows.contains("s2"))
    // P1: -nd- sample dropped ONLY inside Anders_JITC_2022
    assert(!rows.contains("s3-nd-x") && rows.contains("ps4"))
    // F5 goldens: 0->LIVING, 1->DECEASED, unmapped 2 passes through
    assert(rows("ps1").getAs[String]("OS_STATUS") == "0:LIVING")
    assert(rows("s2").getAs[String]("OS_STATUS") == "1:DECEASED")
    // F6 goldens: 231/30.44 = 7.59 (reference test), 30.44 -> 1.0
    assert(rows("ps1").getAs[Double]("OS_MONTHS") == 7.59)
    assert(rows("ps4").getAs[Double]("OS_MONTHS") == 1.0)
    // HALF_EVEN rounding on the 706.208/30.44 = 23.1999... case
    assert(rows("s2").getAs[Double]("OS_MONTHS") == 23.2)
    // J3: neoantigen SNV merged in
    assert(rows("ps1").getAs[Long]("SNV") == 12L)
  }

  test("split + per-dataset export: files, headers, case lists on disk") {
    val (pre, _, _) = ClinicalPipeline.preprocessObserved(
      clinicalFixture, oncotreeFixture, neoFixture, attrMappingFixture)
    val withCt = pre.withColumn("CANCER_TYPE", col("ONCOTREE_CODE"))
    val (patient, sample) = ClinicalPipeline.splitPatientSample(withCt, attrMappingFixture)

    assert(patient.columns.contains("PATIENT_ID") && !patient.columns.contains("SAMPLE_ID"))
    assert(sample.columns.contains("SAMPLE_ID"))

    val tmp = Files.createTempDirectory("clin-e2e").toString
    val report = ClinicalPipeline.exportDataset(
      patient, sample, "DsA", attrMetaFixture, "iatlas_test", tmp)
    assert(report.forall(_._3), s"failed checks: ${report.filterNot(_._3)}")

    val sampleLines = Files.readAllLines(Paths.get(s"$tmp/data_clinical_sample.txt")).asScala
    // 4 #-metadata lines, then the header, then 2 DsA rows
    assert(sampleLines.take(4).forall(_.startsWith("#")))
    assert(sampleLines(4).split("\t").contains("SAMPLE_ID"))
    assert(sampleLines.size == 7)
    // case list written per cancer type with tab-joined ids
    val caseFile = Paths.get(s"$tmp/case_lists/cases_LUAD.txt")
    assert(Files.exists(caseFile))
    val caseContent = Files.readString(caseFile)
    assert(caseContent.contains("case_list_ids: ps1\ts2"))
    assert(Files.readString(Paths.get(s"$tmp/meta_study.txt"))
      .contains("reference_genome: hg38"))
  }

  test("a header block from attrMeta with a tab, a newline and a null datatype stays one block") {
    val sample = Seq(("s1", "p1", "LUAD", 2.5, "DsA"), ("s2", "p2", "SKCM", 4.0, "DsA"))
      .toDF("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "TMB", "Dataset")
    val patient = Seq(("p1", "DsA"), ("p2", "DsA")).toDF("PATIENT_ID", "Dataset")
    val attrMeta = Seq(
      ("CANCER_TYPE", "Cancer\tType", "Cancer type", null: String, "1"),
      ("TMB", "TMB", "Mutation\nburden", "NUMBER", "2"))
      .toDF("NORMALIZED_COLUMN_HEADER", "DISPLAY_NAME", "DESCRIPTION", "DATA_TYPE", "PRIORITY")
    val tmp = Files.createTempDirectory("clin-dirty-meta").toString
    ClinicalPipeline.exportDataset(patient, sample, "DsA", attrMeta, "iatlas_test", tmp)
    val header = graft.validation.PortalRules.structuralReport(tmp)
      .find(_._1 == "portal_clinical_header_block").get
    assert(header._3, header.toString)
    val back = spark.read.format("cbio").load(s"$tmp/data_clinical_sample.txt")
    assert(back.columns.toSeq == Seq("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "TMB"))
    assert(back.schema.map(_.dataType.typeName) == Seq("string", "string", "string", "double"))
    assert(back.schema("CANCER_TYPE").metadata.getString("displayName") == "Cancer Type")
    assert(back.schema("TMB").metadata.getString("description") == "Mutation burden")
    assert(back.count() == 2)
  }

  test("per-dataset export: cancer types that sanitize to one name share one case list") {
    // null, "" and "NA" all name cases_no_oncotree_code.txt, "A/B" and
    // "A_B" both cases_A_B.txt; the other dataset's row stays out
    val sample = Seq[(String, String, String, String)](
      ("s5", "p5", null, "DsA"), ("s1", "p1", "NA", "DsA"), ("s3", "p3", "", "DsA"),
      ("s4", "p4", "A/B", "DsA"), ("s2", "p2", "A_B", "DsA"), (null, "p6", "A_B", "DsA"),
      ("s0", "p0", "A/B", "DsB"))
      .toDF("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "Dataset")
    val patient = sample.select("PATIENT_ID", "Dataset")
    val tmp = Files.createTempDirectory("clin-collide").toString
    ClinicalPipeline.exportDataset(patient, sample, "DsA", attrMetaFixture, "st", tmp)
    val lists = Files.list(Paths.get(tmp, "case_lists")).iterator().asScala
      .map(p => p.getFileName.toString -> Files.readAllLines(p).get(4)).toMap
    assert(lists == Map(
      "cases_no_oncotree_code.txt" -> "case_list_ids: s1\ts3\ts5",
      "cases_A_B.txt" -> "case_list_ids: s2\ts4"), lists.toString)
  }

  private def attrMetaFixture = Seq(
    ("OS_STATUS", "Overall Survival Status", "OS status", "STRING", "1"),
    ("OS_MONTHS", "Overall Survival (Months)", "OS months", "NUMBER", "1"),
    ("SNV", "SNV Count", "Neoantigen SNV count", "NUMBER", "1"),
    ("CANCER_TYPE", "Cancer Type", "Cancer type", "STRING", "1"))
    .toDF("NORMALIZED_COLUMN_HEADER", "DISPLAY_NAME", "DESCRIPTION", "DATA_TYPE", "PRIORITY")

  test("split with empty mapping keeps only the fixed id columns (reference test_empty_mapping)") {
    val df = Seq(("s1", "p1", "LUAD", "DsA", "extra"))
      .toDF("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "Dataset", "UNMAPPED_ATTR")
    val emptyMapping = Seq.empty[(String, String)]
      .toDF("NORMALIZED_HEADER", "ATTRIBUTE_TYPE")
    val (patient, sample) = ClinicalPipeline.splitPatientSample(df, emptyMapping)
    assert(patient.columns.toSeq == Seq("PATIENT_ID", "Dataset"))
    assert(sample.columns.toSeq ==
      Seq("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "Dataset"))
    assert(!sample.columns.contains("UNMAPPED_ATTR"))
  }

  test("lens join flags unmatched samples (V15)") {
    val df = Seq(("ps1", "DsA"), ("s2", "DsA")).toDF("SAMPLE_ID", "Dataset")
    val lens = Seq(("ps1", "lens-1")).toDF("study_sample_name", "lens_id")
    val (joined, obs, rules) = ClinicalPipeline.addLensDisplayNameObserved(df, lens)
    assert(joined.filter(col("SAMPLE_DISPLAY_NAME") === "lens-1").count() == 1L)
    // V15, observed by the count above
    assert(Rules.observedRows(obs, rules).map(_._2) == Seq(1L))
  }

  test("updateAttributeMetadata: new rows override, keep-last per header (A7/U2)") {
    val existing = Seq(
      ("OS_STATUS", "Old Display", "STRING"),
      ("AGE", "Age", "NUMBER"))
      .toDF("NORMALIZED_COLUMN_HEADER", "DISPLAY_NAME", "DATA_TYPE")
    val updates = Seq(
      ("OS_STATUS", "Overall Survival Status", "STRING"))
      .toDF("NORMALIZED_COLUMN_HEADER", "DISPLAY_NAME", "DATA_TYPE")
    val out = ClinicalPipeline.updateAttributeMetadata(existing, updates)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out.size == 2)
    assert(out("OS_STATUS") == "Overall Survival Status") // update wins
    assert(out("AGE") == "Age") // untouched rows survive
  }

  test("dropAllNaColumns keeps partially-null, drops all-null (P5)") {
    val df = Seq((1, Some("a"), Option.empty[String]), (2, None, None))
      .toDF("id", "partial", "empty")
    val out = ClinicalPipeline.dropAllNaColumns(df)
    assert(out.columns.toSeq == Seq("id", "partial"))
  }
}

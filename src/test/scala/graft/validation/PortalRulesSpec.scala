package graft.validation

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark
import graft.sources.Tsv

/** V18 — the native twin of the external cBioPortal validator run
  * (reference `validate.py:198-226`): a healthy package passes every
  * structural + data rule; each seeded violation trips exactly its rule.
  */
class PortalRulesSpec extends AnyFunSuite {
  import spark.implicits._

  private def write(p: Path, s: String): Unit = {
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }

  /** A minimal valid package: 2 patients / 3 samples / 2-row MAF. */
  private def healthyPackage(): String = {
    val dir = Files.createTempDirectory("portal-ok").toString
    val sample = Seq(("s1", "p1", "Melanoma"), ("s2", "p1", "Melanoma"),
      ("s3", "p2", "Lung"))
      .toDF("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE")
    val patient = Seq("p1", "p2").toDF("PATIENT_ID")
    Tsv.writeTsvFile(sample, s"$dir/data_clinical_sample.txt", Seq(
      "#Sample ID\tPatient ID\tCancer Type",
      "#Sample identifier\tPatient identifier\tCancer type",
      "#STRING\tSTRING\tSTRING", "#1\t1\t1"))
    Tsv.writeTsvFile(patient, s"$dir/data_clinical_patient.txt",
      Seq("#Patient ID", "#Patient identifier", "#STRING", "#1"))
    val maf = Seq(
      // no chr prefix and no germline call: those are WARNING-tier
      // counts (maf_chromosome_no_prefix / maf_germline_reported) a
      // healthy package must not carry
      ("s1", "17", 100L, 101L, "C", "T", "Somatic", "GRCh38"),
      ("s3", "X", 50L, 50L, "-", "A", "Somatic", "GRCh38"))
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "End_Position", "Reference_Allele", "Tumor_Seq_Allele2",
        "Mutation_Status", "NCBI_Build")
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    Tsv.writeMetaFile(s"$dir/meta_clinical_sample.txt", Seq(
      "cancer_study_identifier" -> "study1", "datatype" -> "SAMPLE_ATTRIBUTES",
      "data_filename" -> "data_clinical_sample.txt"))
    Tsv.writeMetaFile(s"$dir/meta_clinical_patient.txt", Seq(
      "cancer_study_identifier" -> "study1", "datatype" -> "PATIENT_ATTRIBUTES",
      "data_filename" -> "data_clinical_patient.txt"))
    Tsv.writeMetaFile(s"$dir/meta_mutations.txt", Seq(
      "cancer_study_identifier" -> "study1",
      "genetic_alteration_type" -> "MUTATION_EXTENDED",
      "datatype" -> "MAF", "stable_id" -> "mutations",
      "data_filename" -> "data_mutations.txt"))
    Tsv.writeMetaFile(s"$dir/meta_study.txt", Seq(
      "cancer_study_identifier" -> "study1", "type_of_cancer" -> "mixed",
      "name" -> "Study One", "description" -> "healthy fixture study"))
    Tsv.writeCaseLists(sample, "CANCER_TYPE", "SAMPLE_ID", "study1",
      s"$dir/case_lists")
    // a mutation profile REQUIRES a sequenced-cases list (tier 8); a
    // healthy one lists exactly the mutated samples
    write(Paths.get(dir, "case_lists", "cases_sequenced.txt"),
      "cancer_study_identifier: study1\n" +
        "stable_id: study1_sequenced\n" +
        "case_list_name: Sequenced samples\n" +
        "case_list_description: Samples with mutation data\n" +
        "case_list_category: all_cases_with_mutation_data\n" +
        "case_list_ids: s1\ts3\n")
    // the importer needs a global `_all` list (tier 10)
    write(Paths.get(dir, "case_lists", "cases_all.txt"),
      "cancer_study_identifier: study1\n" +
        "stable_id: study1_all\n" +
        "case_list_name: All samples\n" +
        "case_list_description: All samples in study\n" +
        "case_list_category: all_cases_in_study\n" +
        "case_list_ids: s1\ts2\ts3\n")
    dir
  }

  /** [[PortalRules.check]] over the package's own three data files and
    * case lists, each file read as the study validator reads it.
    */
  private def reportMap(dir: String): Map[String, (Long, Boolean)] = {
    val files = graft.pipelines.StudyValidator.loadAllOutputs(spark, dir, PortalRules.DataFiles)
    PortalRules.check(spark, dir, files(PortalRules.SampleFile), files(PortalRules.PatientFile),
      files(PortalRules.MafFile), PortalRules.caseListIds(spark, dir))
      .map { case (rule, v, passed) => rule -> (v, passed) }.toMap
  }

  test("healthy package passes every portal rule") {
    val rep = reportMap(healthyPackage())
    assert(rep.nonEmpty)
    rep.foreach { case (rule, (v, passed)) => assert(passed, s"$rule value=$v") }
    // every layer actually ran
    assert(rep.contains("portal_meta_files_resolve"))
    assert(rep.contains("portal_clinical_header_block"))
    assert(rep.contains("portal_case_list_fields"))
    assert(rep.contains("sample_patient_in_patients"))
    assert(rep.contains("case_list_ids_in_samples"))
    assert(rep.contains("maf_chromosome_valid"))
    assert(rep.contains("maf_barcode_in_samples"))
  }

  test("dangling data_filename trips meta_files_resolve") {
    val dir = healthyPackage()
    Tsv.writeMetaFile(s"$dir/meta_extra.txt", Seq(
      "cancer_study_identifier" -> "study1",
      "data_filename" -> "data_absent.txt"))
    assert(reportMap(dir)("portal_meta_files_resolve") == ((1L, false)))
  }

  test("divergent study id trips study_id_consistent") {
    val dir = healthyPackage()
    Tsv.writeMetaFile(s"$dir/meta_mutations.txt", Seq(
      "cancer_study_identifier" -> "OTHER_STUDY", "datatype" -> "MAF",
      "data_filename" -> "data_mutations.txt"))
    assert(reportMap(dir)("portal_study_id_consistent") == ((1L, false)))
  }

  test("orphan data file trips data_files_have_meta") {
    val dir = healthyPackage()
    write(Paths.get(dir, "data_orphan.txt"), "A\tB\n1\t2\n")
    assert(reportMap(dir)("portal_data_files_have_meta") == ((1L, false)))
  }

  test("bad header datatype and short block trip clinical_header_block") {
    val dir = healthyPackage()
    // 4-line block but an illegal datatype value
    val p = Paths.get(dir, "data_clinical_patient.txt")
    val lines = Files.readAllLines(p)
    lines.set(2, "#VARCHAR")
    write(p, String.join("\n", lines) + "\n")
    assert(reportMap(dir)("portal_clinical_header_block") == ((1L, false)))
    // drop a block line entirely -> still one violating file
    lines.remove(1)
    write(p, String.join("\n", lines) + "\n")
    assert(reportMap(dir)("portal_clinical_header_block") == ((1L, false)))
  }

  test("case list with missing key or foreign stable_id trips case_list_fields") {
    val dir = healthyPackage()
    write(Paths.get(dir, "case_lists", "cases_bad.txt"),
      "cancer_study_identifier: study1\nstable_id: other_all\n" +
        "case_list_name: n\ncase_list_description: d\ncase_list_ids: s1\n")
    assert(reportMap(dir)("portal_case_list_fields") == ((1L, false)))
  }

  test("case-list id not in clinical samples trips case_list_ids_in_samples") {
    val dir = healthyPackage()
    write(Paths.get(dir, "case_lists", "cases_extra.txt"),
      "cancer_study_identifier: study1\nstable_id: study1_extra\n" +
        "case_list_name: n\ncase_list_description: d\ncase_list_ids: s1\tGHOST\n")
    assert(reportMap(dir)("case_list_ids_in_samples") == ((1L, false)))
  }

  test("strict-MAF violations are counted per rule") {
    val dir = healthyPackage()
    val bad = Seq(
      // bad chromosome, end < start, bad ref allele, bad status, unknown barcode
      ("GHOST", "chr99", 100L, 99L, "Q", "T", "Possibly", "GRCh37"),
      // fine row, chr prefix + M synonym normalize away
      ("s2", "chrm", 5L, 6L, "AT", "-", "LOH", "GRCh38"))
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "End_Position", "Reference_Allele", "Tumor_Seq_Allele2",
        "Mutation_Status", "NCBI_Build")
    Tsv.writeTsvFile(bad, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_chromosome_valid") == ((1L, false)))
    assert(rep("maf_extent_valid") == ((1L, false)))
    assert(rep("maf_allele_valid") == ((1L, false)))
    assert(rep("maf_mutation_status_valid") == ((1L, false)))
    assert(rep("maf_barcode_in_samples") == ((1L, false)))
    assert(rep("maf_ncbi_build_consistent") == ((1L, false)))
  }

  test("all-null NCBI_Build is vacuously consistent (clamped at 0, not -1)") {
    // countDistinct ignores nulls: without the greatest(...,0) clamp the
    // rule reports -1 and Rules.evaluate marks the package failed.
    val dir = healthyPackage()
    val maf = Seq(("s1", "7", 100L, 101L, "A", "T", "Somatic"),
      ("s2", "8", 5L, 6L, "AT", "-", "LOH"))
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "End_Position", "Reference_Allele", "Tumor_Seq_Allele2",
        "Mutation_Status")
      .withColumn("NCBI_Build", org.apache.spark.sql.functions.lit(null: String))
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    assert(reportMap(dir)("maf_ncbi_build_consistent") == ((0L, true)))
  }

  test("empty directory: structural rules all pass vacuously, no data rules emitted") {
    val dir = Files.createTempDirectory("portal-empty").toString
    val rep = reportMap(dir)
    // nothing to violate (and nothing pretending data rules ran)
    assert(rep.keySet == Set("portal_meta_files_resolve",
      "portal_study_id_consistent", "portal_data_files_have_meta",
      "portal_clinical_header_block", "portal_case_list_fields",
      "portal_clinical_no_dup_attrs", "portal_case_list_stable_id_unique",
      "portal_case_list_names_unique",
      "portal_meta_unknown_keys", "portal_attr_id_format",
      "portal_case_list_ids_nonempty", "portal_case_list_dup_ids",
      "portal_case_list_category_known", "portal_meta_study_fields",
      "portal_meta_profile_fields", "portal_profile_stable_id_suffix",
      "portal_meta_datatype_level", "clinical_required_id_columns",
      "clinical_patient_no_sample_cols", "clinical_dup_display_names",
      "clinical_attr_no_level_overlap", "portal_meta_boolean_values",
      "portal_cases_sequenced_present", "portal_cases_all_present",
      "portal_meta_reference_genome", "portal_study_id_format",
      "clinical_survival_attrs_patient_level"),
      rep.keySet)
    rep.values.foreach { case (v, ok) => assert(ok && v == 0L) }
  }

  test("duplicated attribute column trips portal_clinical_no_dup_attrs only") {
    val dir = healthyPackage()
    // well-formed 4-line header block, but ATTR is declared twice
    write(Paths.get(s"$dir/data_clinical_dup.txt"),
      "#A\tB\tB\n#a\tb\tb\n#STRING\tSTRING\tSTRING\n#1\t1\t1\n" +
        "SAMPLE_ID\tATTR\tATTR\ns1\tx\ty\n")
    Tsv.writeMetaFile(s"$dir/meta_clinical_dup.txt", Seq(
      "cancer_study_identifier" -> "study1", "datatype" -> "SAMPLE_ATTRIBUTES",
      "data_filename" -> "data_clinical_dup.txt"))
    val rep = reportMap(dir)
    assert(rep("portal_clinical_no_dup_attrs") == ((1L, false)))
    assert(rep("portal_clinical_header_block")._2, "header block itself is well-formed")
    assert(rep("portal_meta_unknown_keys")._2)
  }

  test("case-list stable_id collision trips portal_case_list_stable_id_unique only") {
    val dir = healthyPackage()
    def list(name: String): String =
      s"""cancer_study_identifier: study1
         |stable_id: study1_shared
         |case_list_name: $name
         |case_list_description: seeded collision
         |case_list_ids: s1\ts2""".stripMargin
    write(Paths.get(s"$dir/case_lists/cases_custom1.txt"), list("c1"))
    write(Paths.get(s"$dir/case_lists/cases_custom2.txt"), list("c2"))
    val rep = reportMap(dir)
    assert(rep("portal_case_list_stable_id_unique") == ((1L, false)))
    assert(rep("portal_case_list_fields")._2, "both lists are individually valid")
    assert(rep("case_list_ids_in_samples")._2, "ids resolve to clinical samples")
  }

  test("unrecognized meta key trips portal_meta_unknown_keys only") {
    val dir = healthyPackage()
    Tsv.writeMetaFile(s"$dir/meta_clinical_flavored.txt", Seq(
      "cancer_study_identifier" -> "study1", "datatype" -> "SAMPLE_ATTRIBUTES",
      "data_filename" -> "data_clinical_sample.txt",
      "flavor" -> "unrecognized-by-validateData"))
    val rep = reportMap(dir)
    assert(rep("portal_meta_unknown_keys") == ((1L, false)))
    assert(rep("portal_meta_files_resolve")._2, "the meta still resolves")
  }

  test("tier-3 strict-MAF columns are each counted per rule") {
    val dir = healthyPackage()
    val bad = Seq(
      // invalid classification, invalid type, ref==tum allele,
      // invalid validation status, negative entrez + blank hugo
      ("s1", "SNP", 100L, 100L, "C", "C", "Missense_Variant", "Verified",
        -5L, ""),
      // SNP whose extent spans 2 bases -> extent_matches_type only
      ("s2", "SNP", 100L, 101L, "C", "T", "Missense_Mutation", "Valid",
        7157L, "TP53"),
      // fine row: DNP spanning exactly 2 bases
      ("s3", "DNP", 50L, 51L, "AT", "GC", "Silent", "Untested", 0L, "KRAS"))
      .toDF("Tumor_Sample_Barcode", "Variant_Type", "Start_Position",
        "End_Position", "Reference_Allele", "Tumor_Seq_Allele2",
        "Variant_Classification", "Validation_Status", "Entrez_Gene_Id",
        "Hugo_Symbol")
    Tsv.writeTsvFile(bad, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_variant_classification_valid") == ((1L, false)))
    assert(rep("maf_variant_type_valid") == ((0L, true)))
    assert(rep("maf_extent_matches_type") == ((1L, false)), "row 2 SNP spans 2")
    assert(rep("maf_allele_not_identical") == ((1L, false)))
    assert(rep("maf_validation_status_valid") == ((1L, false)))
    assert(rep("maf_entrez_nonneg") == ((1L, false)))
    // row 1: hugo blank AND entrez negative -> no usable identifier
    assert(rep("maf_gene_identifier_present") == ((1L, false)))
  }

  test("unknown Variant_Type is counted and skips the extent rule") {
    val dir = healthyPackage()
    val bad = Seq(("s1", "SNV", 100L, 105L))
      .toDF("Tumor_Sample_Barcode", "Variant_Type", "Start_Position",
        "End_Position")
    Tsv.writeTsvFile(bad, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_variant_type_valid") == ((1L, false)))
    // extent-vs-type constrains only the typed spans
    assert(rep("maf_extent_matches_type") == ((0L, true)))
  }

  test("empty case_list_ids trips portal_case_list_ids_nonempty only") {
    val dir = healthyPackage()
    write(Paths.get(dir, "case_lists", "cases_empty.txt"),
      "cancer_study_identifier: study1\nstable_id: study1_empty\n" +
        "case_list_name: n\ncase_list_description: d\ncase_list_ids: \n")
    val rep = reportMap(dir)
    assert(rep("portal_case_list_ids_nonempty") == ((1L, false)))
    assert(rep("portal_case_list_fields")._2, "all five keys are present")
    // an empty line lists no id, not the id ""
    assert(rep("case_list_ids_in_samples") == ((0L, true)))
  }

  test("duplicate ids inside one case list trip portal_case_list_dup_ids") {
    val dir = healthyPackage()
    write(Paths.get(dir, "case_lists", "cases_dup.txt"),
      "cancer_study_identifier: study1\nstable_id: study1_dup\n" +
        "case_list_name: n\ncase_list_description: d\n" +
        "case_list_ids: s1\ts2\ts1\n")
    val rep = reportMap(dir)
    assert(rep("portal_case_list_dup_ids") == ((1L, false)))
    assert(rep("case_list_ids_in_samples")._2, "both distinct ids resolve")
  }

  test("unknown case_list_category is flagged; a known one passes") {
    val dir = healthyPackage()
    write(Paths.get(dir, "case_lists", "cases_cat.txt"),
      "cancer_study_identifier: study1\nstable_id: study1_cat\n" +
        "case_list_name: n\ncase_list_description: d\ncase_list_ids: s1\n" +
        "case_list_category: all_cases_in_study\n")
    assert(reportMap(dir)("portal_case_list_category_known") == ((0L, true)))
    write(Paths.get(dir, "case_lists", "cases_cat.txt"),
      "cancer_study_identifier: study1\nstable_id: study1_cat\n" +
        "case_list_name: n\ncase_list_description: d\ncase_list_ids: s1\n" +
        "case_list_category: every_case_ever\n")
    assert(reportMap(dir)("portal_case_list_category_known") == ((1L, false)))
  }

  test("lowercase attribute id trips portal_attr_id_format only") {
    val dir = healthyPackage()
    write(Paths.get(s"$dir/data_clinical_lc.txt"),
      "#A\tB\n#a\tb\n#STRING\tSTRING\n#1\t1\n" +
        "SAMPLE_ID\tosMonths\ns1\t4\n")
    Tsv.writeMetaFile(s"$dir/meta_clinical_lc.txt", Seq(
      "cancer_study_identifier" -> "study1", "datatype" -> "SAMPLE_ATTRIBUTES",
      "data_filename" -> "data_clinical_lc.txt"))
    val rep = reportMap(dir)
    assert(rep("portal_attr_id_format") == ((1L, false)))
    assert(rep("portal_clinical_header_block")._2, "block itself is well-formed")
    assert(rep("portal_clinical_no_dup_attrs")._2)
  }

  test("non-numeric value in a NUMBER attribute trips clinical_number_attrs_numeric") {
    val dir = healthyPackage()
    // NA and scientific notation are legal NUMBER values; 'ninety' is not
    val sample = Seq(("s1", "p1", "Melanoma", "12"),
      ("s2", "p1", "Melanoma", "NA"), ("s3", "p2", "Lung", "1.5e2"))
      .toDF("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "AGE_MONTHS")
    def writeSample(age3: String): Unit =
      Tsv.writeTsvFile(sample.withColumn("AGE_MONTHS",
        org.apache.spark.sql.functions.when($"SAMPLE_ID" === "s3",
          org.apache.spark.sql.functions.lit(age3)).otherwise($"AGE_MONTHS")),
        s"$dir/data_clinical_sample.txt", Seq(
          "#Sample ID\tPatient ID\tCancer Type\tAge Months",
          "#Sample identifier\tPatient identifier\tCancer type\tAge",
          "#STRING\tSTRING\tSTRING\tNUMBER", "#1\t1\t1\t1"))
    writeSample("1.5e2")
    assert(reportMap(dir)("clinical_number_attrs_numeric") == ((0L, true)))
    writeSample("ninety")
    assert(reportMap(dir)("clinical_number_attrs_numeric") == ((1L, false)))
  }

  test("case_list_name collision trips portal_case_list_names_unique only") {
    val dir = healthyPackage()
    def list(stableId: String): String =
      s"""cancer_study_identifier: study1
         |stable_id: study1_$stableId
         |case_list_name: Shared Display Name
         |case_list_description: seeded name collision
         |case_list_ids: s1\ts2""".stripMargin
    write(Paths.get(s"$dir/case_lists/cases_n1.txt"), list("n1"))
    write(Paths.get(s"$dir/case_lists/cases_n2.txt"), list("n2"))
    val rep = reportMap(dir)
    assert(rep("portal_case_list_names_unique") == ((1L, false)))
    assert(rep("portal_case_list_stable_id_unique")._2, "stable ids differ")
    assert(rep("portal_case_list_fields")._2, "both lists are individually valid")
  }

  test("tier-4 strict-MAF columns are each counted per rule") {
    val dir = healthyPackage()
    val bad = Seq(
      // reverse strand + invalid verification status
      ("s1", "SNP", "C", "T", "-", "Maybe"),
      // DNP carrying single-base alleles -> allele_len_matches_type
      ("s2", "DNP", "C", "T", "+", "Verified"),
      // DEL whose alleles are same-length (no '-' placeholder, no shrink)
      ("s3", "DEL", "AT", "GC", "+", "NA"),
      // fine rows: SNP 1-base, INS growing through '-' placeholder
      ("s1", "SNP", "G", "A", "+", "Unknown"),
      ("s2", "INS", "-", "TTAG", "+", "Verified"))
      .toDF("Tumor_Sample_Barcode", "Variant_Type", "Reference_Allele",
        "Tumor_Seq_Allele2", "Strand", "Verification_Status")
    Tsv.writeTsvFile(bad, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_strand_valid") == ((1L, false)))
    assert(rep("maf_verification_status_valid") == ((1L, false)))
    assert(rep("maf_allele_len_matches_type") == ((1L, false)))
    assert(rep("maf_indel_allele_shape") == ((1L, false)))
    // the healthy rows don't double-count anywhere
    assert(rep("maf_allele_not_identical")._2)
  }

  test("non-boolean value in a BOOLEAN attribute trips clinical_boolean_attrs_boolean") {
    val dir = healthyPackage()
    def writeSample(third: String): Unit =
      Tsv.writeTsvFile(Seq(("s1", "p1", "Melanoma", "TRUE"),
        ("s2", "p1", "Melanoma", "NA"), ("s3", "p2", "Lung", third))
        .toDF("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "IS_PRIMARY"),
        s"$dir/data_clinical_sample.txt", Seq(
          "#Sample ID\tPatient ID\tCancer Type\tIs Primary",
          "#Sample identifier\tPatient identifier\tCancer type\tPrimary",
          "#STRING\tSTRING\tSTRING\tBOOLEAN", "#1\t1\t1\t1"))
    writeSample("FALSE")
    assert(reportMap(dir)("clinical_boolean_attrs_boolean") == ((0L, true)))
    writeSample("maybe")
    val rep = reportMap(dir)
    assert(rep("clinical_boolean_attrs_boolean") == ((1L, false)))
    assert(rep("clinical_number_attrs_numeric")._2, "no NUMBER column involved")
  }

  test("bare survival label trips clinical_survival_status_format") {
    val dir = healthyPackage()
    def writePatient(second: String): Unit =
      Tsv.writeTsvFile(Seq(("p1", "0:LIVING"), ("p2", second))
        .toDF("PATIENT_ID", "OS_STATUS"),
        s"$dir/data_clinical_patient.txt", Seq(
          "#Patient ID\tOs Status", "#Patient identifier\tSurvival status",
          "#STRING\tSTRING", "#1\t1"))
    writePatient("1:DECEASED")
    assert(reportMap(dir)("clinical_survival_status_format") == ((0L, true)))
    writePatient("DECEASED")
    assert(reportMap(dir)("clinical_survival_status_format") == ((1L, false)))
  }

  test("meta_study missing required keys trips portal_meta_study_fields") {
    val dir = healthyPackage()
    Tsv.writeMetaFile(s"$dir/meta_study.txt", Seq(
      "cancer_study_identifier" -> "study1", "type_of_cancer" -> "mixed"))
    val rep = reportMap(dir)
    assert(rep("portal_meta_study_fields") == ((2L, false)),
      "name and description both missing")
    assert(rep("portal_meta_unknown_keys")._2)
  }

  test("profile meta without stable_id trips portal_meta_profile_fields; CLINICAL metas exempt") {
    val dir = healthyPackage()
    Tsv.writeMetaFile(s"$dir/meta_mutations.txt", Seq(
      "cancer_study_identifier" -> "study1",
      "genetic_alteration_type" -> "MUTATION_EXTENDED",
      "datatype" -> "MAF",
      "data_filename" -> "data_mutations.txt"))
    val rep = reportMap(dir)
    assert(rep("portal_meta_profile_fields") == ((1L, false)))
    // the CLINICAL metas never carried stable_id and must not count
    assert(rep("portal_meta_files_resolve")._2)
  }

  test("missing PATIENT_ID column trips clinical_required_id_columns") {
    val dir = healthyPackage()
    Tsv.writeTsvFile(Seq(("s1", "Melanoma"), ("s2", "Lung"))
      .toDF("SAMPLE_ID", "CANCER_TYPE"),
      s"$dir/data_clinical_sample.txt", Seq(
        "#Sample ID\tCancer Type", "#Sample identifier\tCancer type",
        "#STRING\tSTRING", "#1\t1"))
    val rep = reportMap(dir)
    assert(rep("clinical_required_id_columns") == ((1L, false)))
    assert(rep("portal_clinical_header_block")._2, "header itself well-formed")
  }

  test("SAMPLE_ID in the patient file trips clinical_patient_no_sample_cols") {
    val dir = healthyPackage()
    Tsv.writeTsvFile(Seq(("p1", "s1"), ("p2", "s3"))
      .toDF("PATIENT_ID", "SAMPLE_ID"),
      s"$dir/data_clinical_patient.txt", Seq(
        "#Patient ID\tSample ID", "#Patient identifier\tSample identifier",
        "#STRING\tSTRING", "#1\t1"))
    val rep = reportMap(dir)
    assert(rep("clinical_patient_no_sample_cols") == ((1L, false)))
    assert(rep("clinical_required_id_columns")._2, "both ids still declared")
  }

  test("DEL not spanning its reference allele trips maf_del_span_matches_ref") {
    val dir = healthyPackage()
    val maf = Seq(
      // spans 2 bases for a 2-base deletion — fine
      ("s1", "DEL", 100L, 101L, "AT", "-"),
      // claims 3 bases but deletes 2 — violation
      ("s2", "DEL", 200L, 202L, "AT", "-"),
      // placeholder-ref deletion exempt from the span rule
      ("s3", "DEL", 300L, 300L, "-", "A"),
      // insertions never counted here
      ("s1", "INS", 400L, 401L, "-", "GGG"))
      .toDF("Tumor_Sample_Barcode", "Variant_Type", "Start_Position",
        "End_Position", "Reference_Allele", "Tumor_Seq_Allele2")
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_del_span_matches_ref") == ((1L, false)))
    assert(rep("maf_extent_valid")._2)
  }

  test("duplicate display names trip clinical_dup_display_names only") {
    val dir = healthyPackage()
    Tsv.writeTsvFile(Seq(("s1", "p1", "Melanoma"), ("s2", "p2", "Lung"))
      .toDF("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE"),
      s"$dir/data_clinical_sample.txt", Seq(
        "#Sample ID\tPatient ID\tSample ID", // display dup, ids unique
        "#Sample identifier\tPatient identifier\tCancer type",
        "#STRING\tSTRING\tSTRING", "#1\t1\t1"))
    val rep = reportMap(dir)
    assert(rep("clinical_dup_display_names") == ((1L, false)))
    assert(rep("portal_clinical_no_dup_attrs")._2, "attr ids stay unique")
    assert(rep("portal_clinical_header_block")._2, "block itself well-formed")
  }

  test("unknown profile stable_id trips portal_profile_stable_id_suffix") {
    val dir = healthyPackage()
    Tsv.writeMetaFile(s"$dir/meta_mutations.txt", Seq(
      "cancer_study_identifier" -> "study1",
      "genetic_alteration_type" -> "MUTATION_EXTENDED",
      "datatype" -> "MAF", "stable_id" -> "my_custom_calls",
      "data_filename" -> "data_mutations.txt"))
    val rep = reportMap(dir)
    assert(rep("portal_profile_stable_id_suffix") == ((1L, false)))
    assert(rep("portal_meta_profile_fields")._2, "all required keys present")
    // a study-prefixed known suffix passes
    Tsv.writeMetaFile(s"$dir/meta_mutations.txt", Seq(
      "cancer_study_identifier" -> "study1",
      "genetic_alteration_type" -> "MUTATION_EXTENDED",
      "datatype" -> "MAF", "stable_id" -> "study1_mutations",
      "data_filename" -> "data_mutations.txt"))
    assert(reportMap(dir)("portal_profile_stable_id_suffix")._2)
  }

  test("SAMPLE_ATTRIBUTES meta over a patient-level file trips portal_meta_datatype_level") {
    val dir = healthyPackage()
    Tsv.writeTsvFile(Seq(("p1", "x"), ("p2", "y")).toDF("PATIENT_ID", "NOTE"),
      s"$dir/data_clinical_extra.txt", Seq(
        "#Patient ID\tNote", "#Patient identifier\tFree note",
        "#STRING\tSTRING", "#1\t1"))
    Tsv.writeMetaFile(s"$dir/meta_clinical_extra.txt", Seq(
      "cancer_study_identifier" -> "study1",
      "genetic_alteration_type" -> "CLINICAL",
      "datatype" -> "SAMPLE_ATTRIBUTES",
      "data_filename" -> "data_clinical_extra.txt"))
    val rep = reportMap(dir)
    assert(rep("portal_meta_datatype_level") == ((1L, false)))
    assert(rep("clinical_required_id_columns")._2,
      "canonical files still carry their id columns")
    assert(rep("portal_meta_files_resolve")._2)
  }

  test("negative read support trips maf_allele_counts_valid; nulls pass") {
    val dir = healthyPackage()
    val maf = Seq(
      ("s1", "SNP", "C", "T", 10L, 5L),
      ("s2", "SNP", "G", "A", 0L, -2L), // violation
      ("s3", "SNP", "A", "G", 3L, 0L))
      .toDF("Tumor_Sample_Barcode", "Variant_Type", "Reference_Allele",
        "Tumor_Seq_Allele2", "t_ref_count", "t_alt_count")
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_allele_counts_valid") == ((1L, false)))
    assert(rep("maf_allele_not_identical")._2)
  }

  test("sample referencing an absent patient trips containment + dup check") {
    val dir = healthyPackage()
    val sample = Seq(("s1", "p1", "Melanoma"), ("s1", "p1", "Melanoma"),
      ("s4", "pX", "Lung"))
      .toDF("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE")
    Tsv.writeTsvFile(sample, s"$dir/data_clinical_sample.txt", Seq(
      "#Sample ID\tPatient ID\tCancer Type",
      "#Sample identifier\tPatient identifier\tCancer type",
      "#STRING\tSTRING\tSTRING", "#1\t1\t1"))
    val rep = reportMap(dir)
    assert(rep("sample_patient_in_patients") == ((1L, false)))
    assert(rep("no_dup_sample_id") == ((1L, false)))
  }

  // ---- tier 6 -----------------------------------------------------------

  test("non-boolean add_global_case_list trips portal_meta_boolean_values only") {
    val dir = healthyPackage()
    Tsv.writeMetaFile(s"$dir/meta_study.txt", Seq(
      "cancer_study_identifier" -> "study1", "type_of_cancer" -> "mixed",
      "name" -> "Study One", "description" -> "healthy fixture study",
      "add_global_case_list" -> "yes")) // must be literal true/false
    val rep = reportMap(dir)
    assert(rep("portal_meta_boolean_values") == ((1L, false)))
    assert(rep("portal_meta_unknown_keys")._2, "the key itself is recognized")
    assert(rep("portal_meta_study_fields")._2)
  }

  test("unknown reference genome trips portal_meta_reference_genome only") {
    val dir = healthyPackage()
    Tsv.writeMetaFile(s"$dir/meta_study.txt", Seq(
      "cancer_study_identifier" -> "study1", "type_of_cancer" -> "mixed",
      "name" -> "Study One", "description" -> "healthy fixture study",
      "reference_genome" -> "hg99"))
    val rep = reportMap(dir)
    assert(rep("portal_meta_reference_genome") == ((1L, false)))
    assert(rep("portal_meta_unknown_keys")._2)
    // a supported build passes
    Tsv.writeMetaFile(s"$dir/meta_study.txt", Seq(
      "cancer_study_identifier" -> "study1", "type_of_cancer" -> "mixed",
      "name" -> "Study One", "description" -> "healthy fixture study",
      "reference_genome" -> "hg38"))
    assert(reportMap(dir)("portal_meta_reference_genome")._2)
  }

  test("attribute declared at both levels trips clinical_attr_no_level_overlap only") {
    val dir = healthyPackage()
    // CANCER_TYPE already lives in the sample file; repeating it at the
    // patient level shadows it
    val patient = Seq(("p1", "Melanoma"), ("p2", "Lung"))
      .toDF("PATIENT_ID", "CANCER_TYPE")
    Tsv.writeTsvFile(patient, s"$dir/data_clinical_patient.txt", Seq(
      "#Patient ID\tCancer Type", "#Patient identifier\tCancer type",
      "#STRING\tSTRING", "#1\t1"))
    val rep = reportMap(dir)
    assert(rep("clinical_attr_no_level_overlap") == ((1L, false)))
    assert(rep("clinical_patient_no_sample_cols")._2, "PATIENT_ID link is exempt")
    assert(rep("clinical_required_id_columns")._2)
  }

  test("duplicated PATIENT_ID row trips clinical_no_dup_patient_id only") {
    val dir = healthyPackage()
    val patient = Seq("p1", "p1", "p2").toDF("PATIENT_ID")
    Tsv.writeTsvFile(patient, s"$dir/data_clinical_patient.txt",
      Seq("#Patient ID", "#Patient identifier", "#STRING", "#1"))
    val rep = reportMap(dir)
    assert(rep("clinical_no_dup_patient_id") == ((1L, false)))
    assert(rep("clinical_orphan_patients")._2, "both patients still have samples")
    assert(rep("sample_patient_in_patients")._2)
  }

  test("patient with no sample trips clinical_orphan_patients only") {
    val dir = healthyPackage()
    val patient = Seq("p1", "p2", "p3").toDF("PATIENT_ID") // p3 has no sample
    Tsv.writeTsvFile(patient, s"$dir/data_clinical_patient.txt",
      Seq("#Patient ID", "#Patient identifier", "#STRING", "#1"))
    val rep = reportMap(dir)
    assert(rep("clinical_orphan_patients") == ((1L, false)))
    assert(rep("clinical_no_dup_patient_id")._2)
    assert(rep("sample_patient_in_patients")._2, "every sample's patient exists")
  }

  // ---- tier 7: presence rules + validateData's warning long tail ----

  test("ALL-blank allele/strand columns pass the vocabulary rules but " +
    "trip the presence rules") {
    // the NULL exemption in the vocabulary rules means an all-blank
    // Reference_Allele/Tumor_Seq_Allele2/Strand file would pass
    // maf_allele_valid / maf_strand_valid outright — presence is its
    // own rule tier, so the file still fails
    val dir = healthyPackage()
    val maf = Seq(("s1", "", "", ""), ("s2", "", "", ""))
      .toDF("Tumor_Sample_Barcode", "Reference_Allele", "Tumor_Seq_Allele2",
        "Strand")
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_allele_valid")._2, "vocabulary rule exempts blanks")
    assert(rep("maf_strand_valid")._2, "vocabulary rule exempts blanks")
    assert(rep("maf_allele_present") == ((2L, false)))
    assert(rep("maf_strand_present") == ((2L, false)))
  }

  test("blank chromosome / null position trip their presence rules") {
    val dir = healthyPackage()
    val maf = Seq(
      ("s1", "17", Some(100L), Some(101L)),
      ("s2", "", Some(50L), Some(50L)),   // blank chromosome
      ("s3", "X", None, Some(7L)))        // null Start_Position
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "End_Position")
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_chromosome_present") == ((1L, false)))
    assert(rep("maf_position_present") == ((1L, false)))
    assert(rep("maf_chromosome_valid")._2, "blank is exempt from vocabulary")
    assert(rep("maf_extent_valid")._2, "null extent is exempt from ordering")
  }

  test("non-base Tumor_Seq_Allele1 trips maf_tumor_allele1_valid; " +
    "nulls exempt") {
    val dir = healthyPackage()
    val maf = Seq(
      ("s1", "C", "A", "T"),
      ("s2", "?", "G", "A"),  // violation
      ("s3", null, "C", "G"))
      .toDF("Tumor_Sample_Barcode", "Tumor_Seq_Allele1", "Reference_Allele",
        "Tumor_Seq_Allele2")
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_tumor_allele1_valid") == ((1L, false)))
  }

  test("t_depth short of ref+alt trips maf_read_support_consistent; " +
    "nulls pass") {
    val dir = healthyPackage()
    val maf = Seq(
      ("s1", Some(10L), Some(5L), Some(15L)),  // exactly covered
      ("s2", Some(10L), Some(5L), Some(20L)),  // slack is fine
      ("s3", Some(10L), Some(5L), Some(14L)),  // violation: 1 read short
      ("s1", Some(3L), Some(2L), None))        // optional column: exempt
      .toDF("Tumor_Sample_Barcode", "t_ref_count", "t_alt_count", "t_depth")
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_read_support_consistent") == ((1L, false)))
    assert(rep("maf_allele_counts_valid")._2)
  }

  test("same variant twice for one sample trips maf_no_dup_variants; " +
    "null components group as equal (SQL DISTINCT semantics)") {
    val dir = healthyPackage()
    val maf = Seq(
      ("s1", "17", Some(100L), Some(101L), "T"),
      ("s1", "17", Some(100L), Some(101L), "T"),  // exact dup
      ("s1", "17", Some(100L), Some(101L), "A"),  // different allele: fine
      ("s2", "X", None, Some(7L), "G"),
      ("s2", "X", None, Some(7L), "G"))           // null-keyed dup still counts
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "End_Position", "Tumor_Seq_Allele2")
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_no_dup_variants") == ((2L, false)))
  }

  test("mutation profile without a sequenced list trips portal_cases_sequenced_present") {
    val dir = healthyPackage()
    Files.delete(Paths.get(dir, "case_lists", "cases_sequenced.txt"))
    val rep = reportMap(dir)
    assert(rep("portal_cases_sequenced_present") == ((1L, false)))
    // without the list the sequenced↔MAF contract is vacuous, not failed
    assert(rep("cases_sequenced_ids_have_mutations") == ((0L, true)))
    assert(rep("maf_barcodes_in_cases_sequenced") == ((0L, true)))
  }

  test("cases_sequenced disagreeing with the MAF trips both direction rules") {
    val dir = healthyPackage()
    // list claims s1 and a ghost were sequenced; s3 IS mutated (and a
    // known sample) but is left off the list
    write(Paths.get(dir, "case_lists", "cases_sequenced.txt"),
      "cancer_study_identifier: study1\n" +
        "stable_id: study1_sequenced\n" +
        "case_list_name: Sequenced samples\n" +
        "case_list_description: Samples with mutation data\n" +
        "case_list_category: all_cases_with_mutation_data\n" +
        "case_list_ids: s1\tsGHOST\n")
    val rep = reportMap(dir)
    assert(rep("cases_sequenced_ids_have_mutations") == ((1L, false)), "ghost id")
    assert(rep("maf_barcodes_in_cases_sequenced") == ((1L, false)), "unlisted s3")
  }

  test("empty cases_sequenced list: no phantom id, every mutated sample is unlisted") {
    val dir = healthyPackage()
    write(Paths.get(dir, "case_lists", "cases_sequenced.txt"),
      "cancer_study_identifier: study1\n" +
        "stable_id: study1_sequenced\n" +
        "case_list_name: Sequenced samples\n" +
        "case_list_description: Samples with mutation data\n" +
        "case_list_category: all_cases_with_mutation_data\n" +
        "case_list_ids: \n")
    val rep = reportMap(dir)
    assert(rep("cases_sequenced_ids_have_mutations") == ((0L, true)))
    assert(rep("maf_barcodes_in_cases_sequenced") == ((2L, false)), "s1, s3")
  }

  test("one Hugo symbol mapping to two Entrez ids trips maf_hugo_entrez_consistent") {
    val dir = healthyPackage()
    val maf = Seq(
      ("s1", "TP53", Some(7157L)),
      ("s1", "TP53", Some(7157L)),   // repeat of the same mapping: fine
      ("s3", "TP53", Some(9999L)),   // CONFLICTING id for TP53
      ("s3", "EGFR", Some(1956L)),
      ("s1", "", Some(1L)),          // blank symbol: exempt
      ("s1", "KRAS", None))          // null id: exempt
      .toDF("Tumor_Sample_Barcode", "Hugo_Symbol", "Entrez_Gene_Id")
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    assert(reportMap(dir)("maf_hugo_entrez_consistent") == ((1L, false)))
  }

  test("tier-8 clinical value hygiene: NA spellings, whitespace, negative survival months") {
    val dir = healthyPackage()
    // OS_MONTHS declared STRING so the NUMBER rule stays out of the way
    // and each seed trips exactly one tier-8 rule
    val patient = Seq(
      ("p1", "N/A"),    // alternate NA spelling
      ("p2", " 2.5"),   // leading whitespace
      ("p3", "-3"))     // numerically valid but negative months
      .toDF("PATIENT_ID", "OS_MONTHS")
    Tsv.writeTsvFile(patient, s"$dir/data_clinical_patient.txt",
      Seq("#Patient ID\tOs Months", "#Patient identifier\tSurvival months",
        "#STRING\tSTRING", "#1\t1"))
    val rep = reportMap(dir)
    assert(rep("clinical_na_spellings") == ((1L, false)))
    assert(rep("clinical_value_whitespace") == ((1L, false)))
    assert(rep("clinical_survival_months_nonneg") == ((1L, false)))
    assert(rep("clinical_number_attrs_numeric")._2, "STRING column must not hit the NUMBER rule")
  }

  test("missing cases_all trips portal_cases_all_present unless " +
    "add_global_case_list covers it") {
    val dir = healthyPackage()
    assert(reportMap(dir)("portal_cases_all_present") == ((0L, true)))
    Files.delete(Paths.get(dir, "case_lists", "cases_all.txt"))
    assert(reportMap(dir)("portal_cases_all_present") == ((1L, false)))
    // the auto-generation flag substitutes for the written list
    Tsv.writeMetaFile(s"$dir/meta_study.txt", Seq(
      "cancer_study_identifier" -> "study1", "type_of_cancer" -> "mixed",
      "name" -> "Study One", "description" -> "healthy fixture study",
      "add_global_case_list" -> "true"))
    assert(reportMap(dir)("portal_cases_all_present") == ((0L, true)))
  }

  test("tier-9 strict-MAF warning columns are each counted per rule") {
    val dir = healthyPackage()
    val maf = Seq(
      // bad dbSNP id, lowercase SWISSPROT, un-prefixed protein change
      ("s1", "17", "Missense_Mutation", "Somatic", "rsX13", "p53_human",
        "M1I", 10L, 12L),
      // Silent event (not-loaded count; blank HGVSp is LEGAL here),
      // negative normal alt count
      ("s2", "17", "Silent", "Somatic", "rs42", "TP53_HUMAN", "", 10L, -2L),
      // chr-prefixed (style warning, normalizes VALID), germline call,
      // blank HGVSp on a protein-affecting event
      ("s3", "chr17", "Missense_Mutation", "Germline", "novel", "", "",
        10L, 12L),
      // fully healthy row
      ("s1", "17", "Missense_Mutation", "Somatic", "rs7", "Q9XYZ1",
        "p.M1I", 10L, 12L))
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Variant_Classification",
        "Mutation_Status", "dbSNP_RS", "SWISSPROT", "HGVSp_Short",
        "n_ref_count", "n_alt_count")
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_dbsnp_rs_format") == ((1L, false)))
    assert(rep("maf_swissprot_format") == ((1L, false)))
    assert(rep("maf_hgvsp_format") == ((1L, false)))
    assert(rep("maf_hgvsp_present_nonsilent") == ((1L, false)),
      "only the protein-affecting blank counts; the Silent blank is legal")
    assert(rep("maf_not_loaded_classification") == ((1L, false)))
    assert(rep("maf_chromosome_no_prefix") == ((1L, false)))
    assert(rep("maf_chromosome_valid")._2, "chr17 normalizes valid")
    assert(rep("maf_germline_reported") == ((1L, false)))
    assert(rep("maf_normal_counts_valid") == ((1L, false)))
  }

  test("tier-11 strict-MAF rules: unknown build, INS span, allele1 consistency") {
    val dir = healthyPackage()
    val maf = Seq(
      // unknown build; INS spanning 3 bases (must span exactly 2);
      // allele1 matches neither ref nor alt on a substitution
      ("s1", "17", 100L, 102L, "INS", "-", "AT", "G", "hg17"),
      // healthy het SNP: allele1 == ref
      ("s2", "17", 50L, 50L, "SNP", "C", "T", "C", "GRCh38"),
      // healthy hom SNP: allele1 == alt; INS row below spans correctly
      ("s3", "17", 60L, 60L, "SNP", "A", "G", "G", "GRCh38"),
      ("s3", "17", 70L, 71L, "INS", "-", "CG", "-", "GRCh38"),
      // SNP whose allele1 matches neither ref nor alt -> the violation
      ("s2", "17", 80L, 80L, "SNP", "A", "T", "C", "GRCh38"))
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "End_Position", "Variant_Type", "Reference_Allele",
        "Tumor_Seq_Allele2", "Tumor_Seq_Allele1", "NCBI_Build")
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    val rep = reportMap(dir)
    assert(rep("maf_ncbi_build_known") == ((1L, false)))
    assert(rep("maf_ncbi_build_consistent") == ((1L, false)),
      "two distinct builds also trip the self-consistency rule")
    assert(rep("maf_ins_span_valid") == ((1L, false)),
      "only the 3-base INS counts; the 2-base INS is the legal flank shape")
    assert(rep("maf_allele1_consistent") == ((1L, false)),
      "het (==ref) and hom (==alt) rows pass; the INS row is out of scope")
  }

  test("tier-11 allele1 rule: NULL allele1 or NULL reference passes (3VL)") {
    val dir = healthyPackage()
    val maf = Seq(
      ("s1", "17", 50L, 50L, "SNP", null, "T", "G", "GRCh38"),
      ("s2", "17", 60L, 60L, "SNP", "A", "G", null, "GRCh38"))
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "End_Position", "Variant_Type", "Reference_Allele",
        "Tumor_Seq_Allele2", "Tumor_Seq_Allele1", "NCBI_Build")
    Tsv.writeTsvFile(maf, s"$dir/data_mutations.txt")
    assert(reportMap(dir)("maf_allele1_consistent") == ((0L, true)))
  }

  test("tier-11: deceased patient with missing survival months is counted") {
    val dir = healthyPackage()
    val patient = Seq(
      ("p1", "1:DECEASED", "NA"),     // deceased, months missing -> counts
      ("p2", "1:DECEASED", "N/A"),    // alternate NA spelling -> counts
      ("p3", "1:DECEASED", "12.5"),   // deceased with months -> passes
      ("p4", "0:LIVING", ""))         // living without months -> passes
      .toDF("PATIENT_ID", "OS_STATUS", "OS_MONTHS")
    Tsv.writeTsvFile(patient, s"$dir/data_clinical_patient.txt", Seq(
      "#Patient ID\tOs Status\tOs Months",
      "#Patient identifier\tSurvival status\tSurvival months",
      "#STRING\tSTRING\tNUMBER", "#1\t1\t1"))
    val rep = reportMap(dir)
    assert(rep("clinical_deceased_months_present") == ((2L, false)))
  }

  test("tier-11 structural: bad study-id format and sample-level survival attrs") {
    val dir = healthyPackage()
    Tsv.writeMetaFile(s"$dir/meta_study.txt", Seq(
      "cancer_study_identifier" -> "Study One!", "type_of_cancer" -> "mixed",
      "name" -> "Study One", "description" -> "bad id fixture"))
    val sample = Seq(("s1", "p1", "1:DECEASED"), ("s2", "p1", "0:LIVING"),
      ("s3", "p2", "0:LIVING"))
      .toDF("SAMPLE_ID", "PATIENT_ID", "OS_STATUS")
    Tsv.writeTsvFile(sample, s"$dir/data_clinical_sample.txt", Seq(
      "#Sample ID\tPatient ID\tOs Status",
      "#Sample identifier\tPatient identifier\tSurvival status",
      "#STRING\tSTRING\tSTRING", "#1\t1\t1"))
    val rep = reportMap(dir)
    assert(rep("portal_study_id_format")._1 >= 1L)
    assert(!rep("portal_study_id_format")._2)
    assert(rep("clinical_survival_attrs_patient_level") == ((1L, false)))
  }

  test("check: frames feed the data rules, the package feeds the rest") {
    // the v18 shape: the frames passed in are NOT the package's files
    val dir = healthyPackage()
    // the package's patient file carries one alternate NA spelling
    // (clinical_na_spellings reads the package, so it must count it)
    Tsv.writeTsvFile(Seq(("p1", "N/A"), ("p2", "12")).toDF("PATIENT_ID", "OS_MONTHS"),
      s"$dir/data_clinical_patient.txt",
      Seq("#Patient ID\tOs Months", "#Patient identifier\tSurvival months",
        "#STRING\tSTRING", "#1\t1"))
    val sample = Seq(("s1", "p1"), ("s1", "p1"), ("s9", "pZ"))
      .toDF("SAMPLE_ID", "PATIENT_ID")
    val patient = Seq("p1", "p1", "p1", "p7").toDF("PATIENT_ID")
    val maf = Seq(("s1", "99", "TP53", 1L), ("s2", "1", "TP53", 2L),
      ("sX", "2", "EGFR", 3L))
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Hugo_Symbol", "Entrez_Gene_Id")
    val ids = Seq("s1", "s9", "GHOST", "GHOST").toDF("barcode")
    val rows = PortalRules.check(spark, dir, Some(sample), Some(patient),
      Some(maf), Some(ids))
    assert(rows.map(_._1).distinct.size == rows.size, "one row per rule")
    val rep = rows.map { case (r, v, ok) => r -> ((v, ok)) }.toMap

    // containment, key and MAF rules read the frames (over the package's
    // own files every one of these is 0)
    assert(rep("sample_patient_in_patients") == ((1L, false)), "pZ")
    assert(rep("no_dup_sample_id") == ((1L, false)), "s1 twice")
    assert(rep("clinical_no_dup_patient_id") == ((2L, false)), "p1 three times")
    assert(rep("clinical_orphan_patients") == ((1L, false)), "p7")
    assert(rep("maf_barcode_in_samples") == ((2L, false)), "s2, sX")
    assert(rep("maf_chromosome_valid") == ((1L, false)), "chromosome 99")
    assert(rep("maf_hugo_entrez_consistent") == ((1L, false)), "TP53 -> 1, 2")
    // case_list_ids_in_samples reads the ids passed in: GHOST (the
    // package's lists against the frame would give 2: s2, s3)
    assert(rep("case_list_ids_in_samples") == ((1L, false)))
    // the sequenced contract reads the package's list {s1, s3} and its
    // samples {s1, s2, s3} against the MAF frame {s1, s2, sX}: s3 is
    // listed but unmutated; s2 is a mutated package sample left off the
    // list (the frame's samples would not know s2)
    assert(rep("cases_sequenced_ids_have_mutations") == ((1L, false)))
    assert(rep("maf_barcodes_in_cases_sequenced") == ((1L, false)))
    // value and structural rules read the package
    assert(rep("clinical_na_spellings") == ((1L, false)))
    assert(rep("clinical_number_attrs_numeric") == ((0L, true)))
    val structural = PortalRules.structuralReport(dir)
    assert(structural.nonEmpty)
    structural.foreach { case (r, v, ok) => assert(rep(r) == ((v, ok)), r) }
  }

  test("id-set, gene and build rules: hand-computed corner cases") {
    val dir = healthyPackage()
    // the raw sample file the sequenced contract reads as written
    // (inferSchema=false): "007" stays "007", the blank cell is null
    write(Paths.get(dir, "data_clinical_sample.txt"),
      "#Sample ID\tPatient ID\n#Sample identifier\tPatient identifier\n" +
        "#STRING\tSTRING\n#1\t1\nSAMPLE_ID\tPATIENT_ID\n" +
        "007\tp1\n8\tp1\n9\tp2\n\tp2\ns1\tp1\n")
    write(Paths.get(dir, "case_lists", "cases_sequenced.txt"),
      "cancer_study_identifier: study1\n" +
        "stable_id: study1_sequenced\n" +
        "case_list_name: Sequenced samples\n" +
        "case_list_description: Samples with mutation data\n" +
        "case_list_category: all_cases_with_mutation_data\n" +
        "case_list_ids: 007\t8\ts1\tGHOST\n")
    // SAMPLE_ID as inference reads "007", "007", "8", "9": an integer
    // column, so the raw file's "007" is not the frame's "7". "7" is also
    // a PATIENT_ID (row 6); s1's duplicate and two null SAMPLE_IDs
    val sample = Seq[(Option[Int], Option[String])](
      (Some(7), Some("p1")), (Some(7), Some("p1")), (None, Some("p2")),
      (None, None), (Some(8), Some("P8")), (Some(9), Some("7")))
      .toDF("SAMPLE_ID", "PATIENT_ID")
    // "8" is a PATIENT_ID here as well as a SAMPLE_ID
    val patient = Seq[Option[String]](Some("p1"), Some("p2"), Some("p2"), None,
      Some("8"), Some("p9")).toDF("PATIENT_ID")
    val maf = Seq[(Option[String], Option[String], Option[Long])](
      (Some("007"), Some("TP53"), Some(7157L)), (Some("7"), Some("TP53"), Some(7158L)),
      (Some("8"), Some(""), None), (Some("9"), Some("KRAS"), None),
      (None, Some("KRAS"), Some(3845L)), (Some("8"), None, Some(1L)),
      (Some("x9"), Some("EGFR"), Some(1956L)), (Some("x9"), Some("EGFR"), Some(1956L)))
      .toDF("Tumor_Sample_Barcode", "Hugo_Symbol", "Entrez_Gene_Id")
      .withColumn("NCBI_Build", org.apache.spark.sql.functions.lit(null).cast("string"))
    val ids = Seq[Option[String]](Some("7"), Some("7"), None, Some("p1"), Some("007"))
      .toDF("id")
    val rep = PortalRules.check(spark, dir, Some(sample), Some(patient), Some(maf),
      Some(ids)).map { case (r, v, ok) => r -> ((v, ok)) }.toMap
    // sample ids {7, 8, 9}: 6 rows − 3 distinct non-null keys
    assert(rep("no_dup_sample_id") == ((3L, false)))
    // patient ids {p1, p2, 8, p9}: 6 rows − 4
    assert(rep("clinical_no_dup_patient_id") == ((2L, false)))
    // sample rows whose patient is absent: P8 and "7" (a sample id only)
    assert(rep("sample_patient_in_patients") == ((2L, false)))
    // patients with no sample: p9 and "8" (a sample id only)
    assert(rep("clinical_orphan_patients") == ((2L, false)))
    // MAF rows under barcodes outside the sample ids: "007", "x9" ×2
    assert(rep("maf_barcode_in_samples") == ((3L, false)))
    // listed ids outside the sample ids: p1 (a patient id only), "007"
    assert(rep("case_list_ids_in_samples") == ((2L, false)))
    // listed {007, 8, s1, GHOST} vs mutated {007, 7, 8, 9, x9}: s1, GHOST
    assert(rep("cases_sequenced_ids_have_mutations") == ((2L, false)))
    // mutated raw samples {007, 8, 9} left off the list: 9
    assert(rep("maf_barcodes_in_cases_sequenced") == ((1L, false)))
    // TP53 → {7157, 7158}; KRAS's null id, the blank and null symbols exempt
    assert(rep("maf_hugo_entrez_consistent") == ((1L, false)))
    assert(rep("maf_ncbi_build_consistent") == ((0L, true)))
    // the blank symbol with a null id has no usable identifier
    assert(rep("maf_gene_identifier_present") == ((1L, false)))
    // a MAF with no keyed column still reports the gene rule, as 0
    val bare = PortalRules.check(spark, Files.createTempDirectory("portal-bare").toString,
      None, None, Some(Seq("7").toDF("Chromosome")), None)
    assert(bare.collect { case (r, v, ok) if !r.startsWith("portal_") &&
      !r.startsWith("clinical_") => (r, v, ok) }.toSet ==
      Set(("maf_chromosome_valid", 0L, true), ("maf_chromosome_present", 0L, true),
        ("maf_chromosome_no_prefix", 0L, true), ("maf_hugo_entrez_consistent", 0L, true)))
  }

  test("a string MAF's positions compare as numbers; a non-number reads as missing") {
    def rep(start: String, end: String): Map[String, Long] = {
      val maf = Seq((start, end)).toDF("Start_Position", "End_Position")
      PortalRules.fieldRows(spark, maf).map(r => r._1 -> r._2).toMap
    }
    // as text, '100' < '99' and '99' < '100' is false
    assert(rep("99", "100")("maf_extent_valid") == 0L)
    assert(rep("100", "99")("maf_extent_valid") == 1L)
    val bad = rep("abc", "100")
    assert(bad("maf_extent_valid") == 0L && bad("maf_position_present") == 1L)
  }

  test("a MAF barcode column typed as a number is checked in its written form") {
    // an all-numeric barcode column (ids like 007) infers as an integer
    val maf = Seq(7, 8).toDF("Tumor_Sample_Barcode")
    val rep = PortalRules.check(spark, Files.createTempDirectory("portal-int").toString,
      None, None, Some(maf), None).map { case (r, v, ok) => r -> ((v, ok)) }.toMap
    assert(rep("maf_barcode_present") == ((0L, true)))
  }

  test("check launches a bounded number of jobs on the healthy package") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val dir = healthyPackage()
    def read(f: String) = Some(Tsv.read(spark, s"$dir/$f", comment = Some('#')))
    val (sample, patient, maf) =
      (read(PortalRules.SampleFile), read(PortalRules.PatientFile), read(PortalRules.MafFile))
    val ids = PortalRules.caseListIds(spark, dir)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("portal-check-jobs", "check")
      val rows = PortalRules.check(spark, dir, sample, patient, maf, ids)
      rows.foreach { case (r, v, ok) => assert(ok, s"$r value=$v") }
      // the bus posts job starts in submission order: once the marker's
      // start is seen, so is every job check launched
      sc.setJobGroup("portal-check-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("portal-check-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("portal-check-end"), "listener never saw the marker")
      val jobs = groups.asScala.count(_ == "portal-check-jobs")
      info(s"check launched $jobs jobs")
      assert(jobs > 0 && jobs <= 12, s"check launched $jobs jobs")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }
}

package graft.pipelines

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark
import graft.sources.SynapseStore

/** The full study lifecycle end-to-end over the mock entity store:
  * syn.get-shaped input fetch → clinical preprocess/split/export → MAF
  * merge/annotate/write → case lists → cross-file validation →
  * syn.store-shaped upload of every produced output under one version
  * comment. Asserts the study package on disk AND in the store.
  */
class StudyRunnerSpec extends AnyFunSuite {
  import spark.implicits._

  /** The attribute mapping, attribute metadata and oncotree names tables
    * both seeds share.
    */
  private def controlTables = {
    val attrMapping = Seq(
      ("OS_STATUS", "OS_STATUS", "PATIENT", null),
      ("OS_MONTHS", "OS_MONTHS", "PATIENT", null),
      ("SNV", "SNV", "SAMPLE", null))
      .toDF("iATLAS_attribute", "NORMALIZED_HEADER", "ATTRIBUTE_TYPE", "Case")
      .withColumn("Case", org.apache.spark.sql.functions.col("Case").cast("string"))
    val attrMeta = Seq(
      ("OS_STATUS", "Overall Survival Status", "OS status", "STRING", "1"),
      ("OS_MONTHS", "Overall Survival (Months)", "OS months", "NUMBER", "1"),
      ("SNV", "SNV Count", "Neoantigen SNV count", "NUMBER", "1"),
      ("CANCER_TYPE", "Cancer Type", "Cancer type", "STRING", "1"))
      .toDF("NORMALIZED_COLUMN_HEADER", "DISPLAY_NAME", "DESCRIPTION", "DATA_TYPE", "PRIORITY")
    val oncotreeNames = Seq(
      ("LUAD", "Lung Adenocarcinoma", "Lung Adenocarcinoma"),
      ("SKCM", "Melanoma", "Cutaneous Melanoma"))
      .toDF("ONCOTREE_CODE", "CANCER_TYPE", "CANCER_TYPE_DETAILED")
    (attrMapping, attrMeta, oncotreeNames)
  }

  private def seedInputs(root: String): StudyRunner.StudyInputs = {
    def put(df: org.apache.spark.sql.DataFrame, name: String, parent: String): String =
      SynapseStore.store(df, root, name, parent, s"seed $name")

    val clinical = Seq(
      ("s1", "p1", "ps1", "pp1", "DsA", "LUAD", "amA", Some(0), Some(231.0)),
      ("s2", "p2", null, null, "DsA", "LUAD", "amA", Some(1), Some(706.208)),
      ("s3", "p3", "ps3", "pp3", "DsA", "SKCM", "amA", Some(0), None))
      .toDF("sample_name", "patient_name", "study_sample_name", "study_patient_name",
        "Dataset", "TCGA_Study", "AMADEUS_Study", "OS_STATUS", "OS_MONTHS")
    val oncotree = Seq(("LUAD", "amA", "DsA", "LUAD"), ("SKCM", "amA", "DsA", "SKCM"))
      .toDF("TCGA_Study", "AMADEUS_Study", "Dataset", "ONCOTREE_CODE")
    val neo = Seq(("ps1", 12L)).toDF("SAMPLE_ID", "SNV")
    val (attrMapping, attrMeta, oncotreeNames) = controlTables
    val mafA = Seq(("ps1", "chr17", 7675000L, 7675001L, "C", "T"))
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "End_Position", "Reference_Allele", "Tumor_Seq_Allele2")
    val mafB = Seq(
      ("s2", "chr12", 25245350L, 25245351L, "G", "A"),
      ("s2", "chrM", 100L, 101L, "A", "G")) // chrM: postprocess drops it
      .toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "End_Position", "Reference_Allele", "Tumor_Seq_Allele2")
    val annotations = Seq(
      ("chr17", 7675000L, 7675001L, "C", "T", "TP53", "missense_variant"),
      ("chr12", 25245350L, 25245351L, "G", "A", "KRAS", "missense_variant"))
      .toDF("Chromosome", "Start_Position", "End_Position",
        "Reference_Allele", "Tumor_Seq_Allele2", "Hugo_Symbol", "Consequence")

    StudyRunner.StudyInputs(
      clinicalId = put(clinical, "clinical.txt", "synInputs"),
      oncotreeId = put(oncotree, "oncotree_mapping.txt", "synInputs"),
      neoId = put(neo, "neoantigen.txt", "synInputs"),
      attrMappingId = put(attrMapping, "attr_mapping.txt", "synInputs"),
      attrMetaId = put(attrMeta, "attr_meta.txt", "synInputs"),
      oncotreeNamesId = put(oncotreeNames, "oncotree_names.txt", "synInputs"),
      mafFolderId = {
        SynapseStore.store(mafA, root, "a.maf", "synMafInputs")
        SynapseStore.store(mafB, root, "b.maf", "synMafInputs")
        "synMafInputs"
      },
      annotationsId = put(annotations, "annotations.txt", "synInputs"))
  }

  /** Two datasets: DsA's 12 samples each have a `.maf` file of 100+
    * rows (every tenth variant unannotated, one chrM row each), stored
    * out of barcode order and of unequal sizes, so a writer that reorders
    * the rows shows; DsB's 3 samples have no MAF.
    */
  private lazy val wide: (String, StudyRunner.StudyInputs) = {
    val root = Files.createTempDirectory("study-wide").toString
    def put(df: org.apache.spark.sql.DataFrame, name: String, parent: String): String =
      SynapseStore.store(df, root, name, parent, s"seed $name")
    val samples = (0 until 12).map(i => (f"s$i%02d", f"p$i%02d", "DsA",
      if (i % 3 == 0) "SKCM" else "LUAD", if (i % 2 == 0) Some(1) else Some(0), Some(30.0 * i))) ++
      (0 until 3).map(i => (s"t$i", s"q$i", "DsB", "SKCM", Some(0), Some(61.0 + i)))
    val clinical = samples.map { case (sid, pid, ds, tcga, st, mo) =>
      (sid, pid, null: String, null: String, ds, tcga, "amA", st, mo)
    }.toDF("sample_name", "patient_name", "study_sample_name", "study_patient_name",
      "Dataset", "TCGA_Study", "AMADEUS_Study", "OS_STATUS", "OS_MONTHS")
    val oncotree = Seq(("LUAD", "amA", "DsA", "LUAD"), ("SKCM", "amA", "DsA", "SKCM"),
      ("SKCM", "amA", "DsB", "SKCM"))
      .toDF("TCGA_Study", "AMADEUS_Study", "Dataset", "ONCOTREE_CODE")
    val neo = Seq(("s00", 12L), ("s05", 3L), ("t1", 7L)).toDF("SAMPLE_ID", "SNV")
    val (attrMapping, attrMeta, oncotreeNames) = controlTables
    def mafRows(i: Int) = (0 until 100 + 7 * i).map { j =>
      val chrom = if (j == 0) "chrM" else s"chr${1 + j % 22}"
      (f"s$i%02d", chrom, 1000000L * i + 10L * j, 1000000L * i + 10L * j + 1, "C", "T")
    }
    val annotations = (0 until 12).flatMap(mafRows).filter { case (_, _, start, _, _, _) =>
      (start / 10) % 10 != 3
    }.map { case (_, chrom, start, end, ref, alt) =>
      (chrom, start, end, ref, alt, "TP53", "missense_variant")
    }.toDF("Chromosome", "Start_Position", "End_Position",
      "Reference_Allele", "Tumor_Seq_Allele2", "Hugo_Symbol", "Consequence")
    Seq(7, 2, 11, 0, 9, 4, 1, 10, 5, 3, 8, 6).foreach { i =>
      SynapseStore.store(mafRows(i).toDF("Tumor_Sample_Barcode", "Chromosome", "Start_Position",
        "End_Position", "Reference_Allele", "Tumor_Seq_Allele2"), root, f"s$i%02d.maf",
        "synWideMafs")
    }
    (root, StudyRunner.StudyInputs(
      clinicalId = put(clinical, "clinical.txt", "synInputs"),
      oncotreeId = put(oncotree, "oncotree_mapping.txt", "synInputs"),
      neoId = put(neo, "neoantigen.txt", "synInputs"),
      attrMappingId = put(attrMapping, "attr_mapping.txt", "synInputs"),
      attrMetaId = put(attrMeta, "attr_meta.txt", "synInputs"),
      oncotreeNamesId = put(oncotreeNames, "oncotree_names.txt", "synInputs"),
      mafFolderId = "synWideMafs",
      annotationsId = put(annotations, "annotations.txt", "synInputs")))
  }

  private def clinicalCli(root: String, in: StudyRunner.StudyInputs, outDir: String,
                          datasets: String*): Unit =
    graft.cli.ClinicalCli.main(((if (datasets.isEmpty) Nil else "--dataset" +: datasets) ++ Seq(
      "--input_df_synid", in.clinicalId,
      "--cli_to_cbio_mapping_synid", in.attrMappingId,
      "--cli_to_oncotree_mapping_synid", in.oncotreeId,
      "--neoantigen_data_synid", in.neoId,
      "--oncotree_names_synid", in.oncotreeNamesId,
      "--attr_meta_synid", in.attrMetaId,
      "--store_root", root, "--out_dir", outDir, "--study_id", "iatlas")).toArray)

  private def mafCli(root: String, in: StudyRunner.StudyInputs, outDir: String,
                     maxRows: Int): Unit =
    graft.cli.MafCli.main(Array("--dataset", "DsA",
      "--input_folder_synid", in.mafFolderId, "--annotations_synid", in.annotationsId,
      "--max_rows", maxRows.toString, "--study_id", "iatlas_dsa",
      "--store_root", root, "--out_dir", outDir))

  test("ClinicalCli -> MafCli -> LoadCli write the package StudyRunner.run writes, byte for byte") {
    val (root, in) = wide
    val cliOut = Files.createTempDirectory("wide-cli")
    clinicalCli(root, in, cliOut.toString, "DsA")
    val dsDir = cliOut.resolve("DsA")
    mafCli(root, in, dsDir.toString, 40000)
    graft.cli.LoadCli.main(Array("--dataset", "DsA", "--create_case_lists",
      "--study_dir", dsDir.toString, "--study_id", "iatlas_dsa"))
    val runOut = Files.createTempDirectory("wide-run")
    StudyRunner.run(spark, root, in, "DsA", "iatlas_dsa", runOut.toString, "synWideOut", "wide")

    val cli = tree(dsDir)
    val ran = tree(runOut)
    assert(cli.contains("failed_annotations.txt"))
    val shared = cli - "failed_annotations.txt"
    assert(shared == ran,
      "files that differ: " + (shared.keySet ++ ran.keySet).filter(f => shared.get(f) != ran.get(f)))
    // the clinical files, the MAF, and both kinds of case list
    assert(Seq("data_mutations.txt", "data_clinical_sample.txt", "case_lists/cases_all.txt",
      "case_lists/cases_sequenced.txt").forall(ran.contains), ran.keySet.toString)
    assert(ran.keySet.count(_.startsWith("case_lists/")) == 4, ran.keySet.toString)
  }

  test("MafCli's failure report: exactly the FAILED rows, chunked by rank in barcode order") {
    val (root, in) = wide
    val out = Files.createTempDirectory("wide-maf")
    val maxRows = 250
    mafCli(root, in, out.toString, maxRows)
    val merged = MafPipeline.readAndMergeMafsFromStore(spark, root, in.mafFolderId).get
    val annotations = spark.read.format("synapse").option("store", root).load(in.annotationsId)
    val keyCols = MafPipeline.VariantKey :+ "Tumor_Sample_Barcode"
    def strings(df: org.apache.spark.sql.DataFrame) =
      df.select(keyCols.map(c => org.apache.spark.sql.functions.col(c).cast("string")): _*)
        .collect().map(r => keyCols.indices.map(r.getString)).toSeq
    val expected = strings(merged.join(annotations, MafPipeline.VariantKey, "left_anti"))
    val report = graft.sources.Tsv.read(spark, out.resolve("failed_annotations.txt").toString,
      inferSchema = false)
    assert(report.columns.toSeq == keyCols :+ "chunk")
    assert(strings(report).sortBy(_.mkString("|")) == expected.sortBy(_.mkString("|")))
    assert(expected.nonEmpty)

    // a barcode's rows hold ranks (before, before + count]: its rows before
    // it in barcode order, then its own
    val counts = merged.groupBy("Tumor_Sample_Barcode").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toSeq.sortBy(_._1)
    val n = counts.map(_._2).sum
    val before = counts.map(_._1).zip(counts.map(_._2).scanLeft(0L)(_ + _)).toMap
    val countOf = counts.toMap
    report.select("Tumor_Sample_Barcode", "chunk").collect().foreach { r =>
      val (b, chunk) = (r.getString(0), r.getString(1).toLong)
      assert(chunk >= 0 && chunk < (n + maxRows - 1) / maxRows, s"$b chunk $chunk")
      assert(chunk >= before(b) / maxRows && chunk <= (before(b) + countOf(b) - 1) / maxRows,
        s"$b chunk $chunk: rows ${before(b) + 1}..${before(b) + countOf(b)}")
    }
  }

  test("ClinicalCli without --dataset writes each dataset's clinical files as run does") {
    val (root, in) = wide
    val cliOut = Files.createTempDirectory("wide-clinical")
    clinicalCli(root, in, cliOut.toString)
    assert(Files.list(cliOut).iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("DsA", "DsB"))
    Seq("DsA", "DsB").foreach { ds =>
      val runOut = Files.createTempDirectory(s"wide-run-$ds")
      StudyRunner.run(spark, root, in, ds, s"iatlas_${ds.toLowerCase}", runOut.toString,
        s"synWide$ds", "wide")
      val cli = tree(cliOut.resolve(ds))
      val ran = tree(runOut)
      assert(Seq("data_clinical_sample.txt", "data_clinical_patient.txt",
        "meta_clinical_sample.txt", "meta_study.txt").forall(cli.contains) &&
        cli.keySet.exists(_.startsWith("case_lists/cases_")), s"$ds: ${cli.keySet}")
      cli.foreach { case (f, digest) => assert(ran.get(f).contains(digest), s"$ds: $f") }
    }
  }

  test("CLI mains mirror the reference's four argparse surfaces end-to-end") {
    val root = Files.createTempDirectory("cli-store").toString
    val outDir = Files.createTempDirectory("cli-out").toString
    val in = seedInputs(root)

    graft.cli.ClinicalCli.main(Array(
      "--dataset", "DsA",
      "--input_df_synid", in.clinicalId,
      "--cli_to_cbio_mapping_synid", in.attrMappingId,
      "--cli_to_oncotree_mapping_synid", in.oncotreeId,
      "--neoantigen_data_synid", in.neoId,
      "--oncotree_names_synid", in.oncotreeNamesId,
      "--attr_meta_synid", in.attrMetaId,
      "--store_root", root, "--out_dir", outDir, "--study_id", "iatlas",
      "--clear_workspace"))
    val dsDir = s"$outDir/DsA"
    assert(Files.exists(Paths.get(dsDir, "data_clinical_sample.txt")))
    assert(Files.exists(Paths.get(dsDir, "data_clinical_patient.txt")))

    graft.cli.MafCli.main(Array(
      "--dataset", "DsA",
      "--input_folder_synid", in.mafFolderId,
      "--annotations_synid", in.annotationsId,
      "--max_rows", "40000", "--study_id", "iatlas_dsa",
      "--store_root", root, "--out_dir", dsDir))
    assert(Files.exists(Paths.get(dsDir, "data_mutations.txt")))

    graft.cli.LoadCli.main(Array(
      "--dataset", "DsA", "--create_case_lists",
      "--study_dir", dsDir, "--study_id", "iatlas_dsa"))
    assert(Files.exists(Paths.get(dsDir, "case_lists/cases_all.txt")))
    assert(Files.exists(Paths.get(dsDir, "case_lists/cases_sequenced.txt")))

    // validate: non-strict prints; strict throws only when rules fail —
    // this freshly exported package must NOT trip the portal rules
    graft.cli.ValidateCli.main(Array(
      "--dataset", "DsA", "--study_dir", dsDir,
      "--neoantigen_data_synid", in.neoId, "--store_root", root))

    graft.cli.LoadCli.main(Array(
      "--dataset", "DsA", "--upload",
      "--output_folder_synid", "synCliOut",
      "--version_comment", "cli upload",
      "--study_dir", dsDir, "--study_id", "iatlas_dsa", "--store_root", root))
    val stored = SynapseStore.getChildren(root, "synCliOut").map(_._2)
    assert(stored.contains("data_clinical_sample.txt"), stored.toString)
    assert(stored.contains("data_mutations.txt"))
    // --strict fails exactly like StudyRunner.run(strictUpload = true)
    val strict = intercept[IllegalStateException] {
      graft.cli.LoadCli.main(Array(
        "--dataset", "DsA", "--upload", "--strict",
        "--output_folder_synid", "synCliStrict",
        "--study_dir", dsDir, "--study_id", "iatlas_dsa", "--store_root", root))
    }
    Seq("data_gene_signatures.txt", "meta_gene_signatures.txt",
      "data_rna_seq_mrna.txt", "meta_rna_seq_mrna.txt").foreach { f =>
      assert(strict.getMessage.contains(f), strict.getMessage)
    }

    // the shared test session must survive all four mains
    assert(!spark.sparkContext.isStopped)
  }

  test("LoadCli case lists carry numeric-looking sample ids as written") {
    val dir = Files.createTempDirectory("cli-numeric-ids")
    Files.writeString(dir.resolve("data_clinical_sample.txt"),
      "#Sample Id\tPatient Id\n#Sample\tPatient\n#STRING\tSTRING\n#1\t1\n" +
        "SAMPLE_ID\tPATIENT_ID\n010\tp2\n007\tp1\n")
    Files.writeString(dir.resolve("data_mutations.txt"),
      "#version 2.4\nHugo_Symbol\tTumor_Sample_Barcode\nTP53\t007\n")
    graft.cli.LoadCli.main(Array(
      "--create_case_lists", "--study_dir", dir.toString, "--study_id", "iatlas_num"))
    val all = Files.readString(dir.resolve("case_lists/cases_all.txt"))
    assert(all.contains("case_list_ids: 007\t010\n"), all)
    val sequenced = Files.readString(dir.resolve("case_lists/cases_sequenced.txt"))
    assert(sequenced.contains("case_list_ids: 007\n"), sequenced)
  }

  test("a package with 007-style ids passes every id rule of the report") {
    val dir = Files.createTempDirectory("report-numeric-ids")
    def write(f: String, text: String): Unit = {
      Files.createDirectories(dir.resolve(f).getParent)
      Files.writeString(dir.resolve(f), text)
    }
    write("data_clinical_sample.txt",
      "#Sample Id\tPatient Id\n#Sample\tPatient\n#STRING\tSTRING\n#1\t1\n" +
        "SAMPLE_ID\tPATIENT_ID\n007\t001\n010\t002\n")
    write("data_clinical_patient.txt",
      "#Patient Id\n#Patient\n#STRING\n#1\nPATIENT_ID\n001\n002\n")
    write("data_mutations.txt",
      "#version 2.4\nHugo_Symbol\tTumor_Sample_Barcode\nTP53\t007\nKRAS\t010\n")
    Seq("all", "sequenced").foreach { list =>
      write(s"case_lists/cases_$list.txt",
        s"cancer_study_identifier: iatlas_num\nstable_id: iatlas_num_$list\n" +
          s"case_list_name: $list\ncase_list_description: $list\n" +
          "case_list_ids: 007\t010\n")
    }
    val neo = Seq("007", "010").toDF("Sample_ID")
    val rep = StudyValidator.report(spark, dir.toString, Some(neo))
      .map { case (r, v, ok) => r -> ((v, ok)) }.toMap
    // an inferred read takes 007 for 7: the written lists would then
    // name samples the sample file does not have
    Seq("case_list_ids_in_samples", "maf_barcode_in_samples", "no_dup_sample_id",
      "sample_patient_in_patients", "clinical_no_dup_patient_id", "clinical_orphan_patients",
      "cases_sequenced_ids_have_mutations", "maf_barcodes_in_cases_sequenced",
      "maf_not_in_neo", "neo_not_in_maf").foreach { r =>
      assert(rep.get(r).contains(("0", true)), s"$r: ${rep.get(r)}")
    }
  }

  test("a written sample value holding a newline: cases_all and the id rules see the written ids") {
    def pkg(note: String): String = {
      val dir = Files.createTempDirectory("report-newline").toString
      def block(cols: String*) = Seq(cols, cols, cols.map(_ => "STRING"), cols.map(_ => "1"))
        .map(_.mkString("#", "\t", ""))
      graft.sources.Tsv.writeTsvFile(Seq(("s1", "p1", note), ("s2", "p2", "plain"))
        .toDF("SAMPLE_ID", "PATIENT_ID", "NOTE"), s"$dir/data_clinical_sample.txt",
        block("SAMPLE_ID", "PATIENT_ID", "NOTE"))
      graft.sources.Tsv.writeTsvFile(Seq("p1", "p2").toDF("PATIENT_ID"),
        s"$dir/data_clinical_patient.txt", block("PATIENT_ID"))
      graft.sources.Tsv.writeTsvFile(Seq(("TP53", "s1"), ("KRAS", "s2"))
        .toDF("Hugo_Symbol", "Tumor_Sample_Barcode"), s"$dir/data_mutations.txt")
      StudyRunner.createCaseLists(spark, dir, "iatlas_nl")
      dir
    }
    val withNewline = pkg("line1\nline2")
    val all = Files.readString(Paths.get(withNewline, "case_lists", "cases_all.txt"))
    assert(all.contains("case_list_ids: s1\ts2\n"), all)
    val idRules = Set("case_list_ids_in_samples", "maf_barcode_in_samples", "no_dup_sample_id",
      "sample_patient_in_patients", "clinical_no_dup_patient_id", "clinical_orphan_patients",
      "cases_sequenced_ids_have_mutations", "maf_barcodes_in_cases_sequenced")
    def ids(dir: String) = StudyValidator.report(spark, dir, None).filter(r => idRules(r._1))
    val got = ids(withNewline)
    assert(got.map(_._1).toSet == idRules)
    assert(got == ids(pkg("line1 line2")))
  }

  test("full lifecycle: fetch -> pipelines -> validate -> versioned upload") {
    val root = Files.createTempDirectory("study-run").toString
    val outDir = Files.createTempDirectory("study-out").toString
    val in = seedInputs(root)
    val res = StudyRunner.run(spark, root, in, dataset = "DsA",
      studyId = "iatlas_DsA", outDir = outDir,
      outputFolderId = "synOutputs", versionComment = "round-5 export")

    // the lanes' and the package step's checks are the report's, row
    // for row
    val neo = spark.read.format("synapse").option("store", root).load(in.neoId)
    assert(res.validation == StudyValidator.report(spark, outDir, Some(neo)))

    // clinical export checks all passed (counts observed on the write pass)
    assert(res.clinicalChecks.nonEmpty && res.clinicalChecks.forall(_._3),
      res.clinicalChecks.toString)

    // study package on disk: clinical + mutation data, metas, case lists
    val produced = Seq("data_clinical_patient.txt", "data_clinical_sample.txt",
      "meta_clinical_patient.txt", "meta_clinical_sample.txt",
      "data_mutations.txt", "meta_mutations.txt")
    produced.foreach(f => assert(Files.exists(Paths.get(outDir, f)), f))
    assert(Files.exists(Paths.get(outDir, "case_lists/cases_all.txt")))
    assert(Files.exists(Paths.get(outDir, "case_lists/cases_sequenced.txt")))

    // chrM dropped by postprocess; annotation joined
    val maf = graft.sources.Tsv.read(spark, s"$outDir/data_mutations.txt")
    assert(maf.count() == 2)
    assert(maf.filter(org.apache.spark.sql.functions.col("Chromosome") === "chrM").count() == 0)
    assert(maf.columns.contains("Hugo_Symbol") && maf.columns.contains("Annotation_Status"))

    // V18: the produced package passes every portal-validator rule
    val portalNames = Set("maf_chromosome_valid", "maf_extent_valid",
      "maf_allele_valid", "maf_mutation_status_valid", "maf_barcode_present",
      "maf_ncbi_build_consistent", "maf_barcode_in_samples",
      "case_list_ids_in_samples", "sample_patient_in_patients",
      "no_dup_sample_id")
    val portal = res.validation.filter { case (r, _, _) =>
      r.startsWith("portal_") || portalNames(r) }
    assert(portal.nonEmpty)
    portal.foreach { case (r, v, ok) => assert(ok, s"$r value=$v") }

    // validation: only the data types this study does not carry are missing
    val missing = res.validation.collectFirst { case ("required_files", d, _) => d }.get
    assert(missing.split(",").toSet == Set(
      "data_gene_signatures.txt", "meta_gene_signatures.txt",
      "data_rna_seq_mrna.txt", "meta_rna_seq_mrna.txt"), missing)
    // absent required outputs are surfaced, not silently skipped; strict
    // mode fails the run like the reference's syn.store on a missing path
    assert(res.missingOutputs.toSet == missing.split(",").toSet)
    assertThrows[IllegalStateException] {
      StudyRunner.run(spark, root, in, dataset = "DsA",
        studyId = "iatlas_DsA_strict", outDir = outDir,
        outputFolderId = "synOutStrict", versionComment = "strict",
        strictUpload = true)
    }

    // upload: every produced output stored verbatim at version 1 with the comment
    assert(res.storedOutputs.keySet.filterNot(_.startsWith("case_lists/")) == produced.toSet)
    // 2 per-cancer-type lists (K3) + cases_all + cases_sequenced (load.py)
    assert(res.storedOutputs.keySet.count(_.startsWith("case_lists/")) == 4)
    res.storedOutputs.foreach { case (f, id) =>
      assert(SynapseStore.latestVersion(root, id).contains(1L), f)
      assert(SynapseStore.versionComment(root, id, 1L).contains("round-5 export"), f)
    }
    // the stored sample file round-trips through the synapse read format
    val sampleBack = spark.read.format("synapse").option("store", root)
      .load(res.storedOutputs("data_clinical_sample.txt"))
    assert(sampleBack.count() == 3)
    assert(sampleBack.columns.contains("CANCER_TYPE"))

    // a second run = a new entity version, same ids (Synapse semantics)
    val outDir2 = Files.createTempDirectory("study-out2").toString
    val res2 = StudyRunner.run(spark, root, in, "DsA", "iatlas_DsA", outDir2,
      "synOutputs", "round-5 export v2")
    assert(res2.storedOutputs == res.storedOutputs, "re-store must hit the same entities")
    res2.storedOutputs.foreach { case (f, id) =>
      assert(SynapseStore.latestVersion(root, id).contains(2L), f)
      assert(SynapseStore.versionComment(root, id, 2L).contains("round-5 export v2"), f)
    }
  }

  /** Every regular file under `root` → its bytes' SHA-256. */
  private def tree(root: Path): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      val digest = java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      root.relativize(p).toString -> digest.map("%02x".format(_)).mkString
    }.toMap
    finally s.close()
  }

  test("the concurrent export is deterministic: three runs, one package") {
    val root = Files.createTempDirectory("study-det").toString
    val in = seedInputs(root)
    val runs = (1 to 3).map { i =>
      val out = Files.createTempDirectory(s"study-det-out$i")
      val res = StudyRunner.run(spark, root, in, "DsA", "iatlas_DsA", out.toString,
        "synDetOut", s"export $i")
      (tree(out), res.clinicalChecks)
    }
    val (first, checks) = runs.head
    assert(first.keySet.contains("data_clinical_sample.txt") &&
      first.keySet.contains("data_mutations.txt") &&
      first.keySet.contains("case_lists/cases_sequenced.txt"), first.keySet.toString)
    runs.tail.foreach { case (t, c) =>
      assert(t == first, "package bytes differ between runs")
      assert(c == checks)
    }
    // V2/V5/V6 from the sample write, V16 from whichever census ran first
    assert(checks == Seq(("rows_DsA", 3L, true), ("no_null_sample_id_DsA", 0L, true),
      ("no_null_patient_id_DsA", 0L, true), ("neo_only_samples", 0L, true)), checks.toString)
  }

  test("a failed stage fails the run only once no stage writes") {
    val root = Files.createTempDirectory("study-fail").toString
    val in = seedInputs(root).copy(mafFolderId = "synNoSuchFolder")
    val out = Files.createTempDirectory("study-fail-out")
    val e = intercept[IllegalArgumentException] {
      StudyRunner.run(spark, root, in, "DsA", "iatlas_DsA", out.toString, "synFailOut", "fail")
    }
    assert(e.getMessage.contains("synNoSuchFolder"), e.getMessage)
    // the clinical stage, run alongside the failed MAF stage, had finished
    // its package part when run threw; nothing appears or changes later
    val atThrow = tree(out)
    assert(Seq("data_clinical_sample.txt", "data_clinical_patient.txt",
      "meta_clinical_sample.txt", "meta_clinical_patient.txt").forall(atThrow.contains),
      atThrow.keySet.toString)
    assert(!atThrow.contains("data_mutations.txt"))
    Thread.sleep(2000)
    assert(tree(out) == atThrow)
  }

  test("one export runs at most 43 Spark jobs") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = Files.createTempDirectory("study-jobs").toString
    val in = seedInputs(root)
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("study-run-jobs", "export")
      StudyRunner.run(spark, root, in, "DsA", "iatlas_DsA",
        Files.createTempDirectory("study-jobs-out").toString, "synJobsOut", "jobs")
      // the bus posts job starts in submission order: once the marker's
      // start is seen, so is every job the run launched
      sc.setJobGroup("study-run-end", "marker")
      sc.parallelize(Seq(1), 1).count()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!groups.contains("study-run-end") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("study-run-end"), "listener never saw the marker")
      val jobs = groups.asScala.count(_ == "study-run-jobs")
      info(s"one export launched $jobs jobs")
      // 71 when the stages ran in sequence, the control tables were
      // collected per use and each drop-all-NA aggregate and the case-list
      // collect re-ran the clinical chain; 59 when the validator re-read
      // every written file, with inference, and the case lists took a
      // join and a sort; 48 when V12 ran a three-job key census beside
      // the barcode collect; 46 when each package read-back ran Spark's
      // header job
      assert(jobs > 0 && jobs <= 43, s"one export launched $jobs jobs")
    } finally {
      sc.removeSparkListener(listener)
      sc.clearJobGroup()
    }
  }
}

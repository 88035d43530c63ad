package graft.cli

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

import graft.LocalSession
import graft.pipelines.{ClinicalPipeline, MafPipeline, StudyRunner, StudyValidator}
import graft.sources.Tsv
import graft.validation.Rules

/** The reference's four argparse CLIs (`clinical.py:842-888`,
  * `maf.py:273-308`, `validate.py:230-251`, `load.py:85-133`) as thin
  * `main`s over the pipeline library — same flag names where the concept
  * survives the port, with the network-Synapse ids resolving against the
  * local entity store (`--store_root`, the sandbox stand-in for a Synapse
  * connection). Everything here is argument plumbing; all data work is
  * the already-tested pipeline stages.
  *
  * Run via `sbt "runMain graft.cli.ClinicalCli --store_root ... "` or a
  * spark-submit with the same class names.
  */
private[cli] object CliUtil {

  /** argparse-thin: `--key value...` pairs (consecutive non-`--` tokens
    * mirror `nargs="+"`), `--flag` booleans from `boolFlags`.
    */
  def parse(argv: Seq[String], boolFlags: Set[String]): Map[String, Seq[String]] = {
    val out = scala.collection.mutable.LinkedHashMap[String, Seq[String]]()
    var i = 0
    while (i < argv.length) {
      val a = argv(i)
      require(a.startsWith("--"), s"unexpected positional argument: $a")
      val key = a.drop(2)
      if (boolFlags(key)) { out(key) = Seq("true"); i += 1 }
      else {
        val vals = argv.drop(i + 1).takeWhile(!_.startsWith("--"))
        require(vals.nonEmpty, s"--$key needs a value")
        out(key) = vals
        i += 1 + vals.length
      }
    }
    out.toMap
  }

  def one(args: Map[String, Seq[String]], key: String): String =
    args.getOrElse(key, sys.error(s"missing required --$key")).head

  def oneOpt(args: Map[String, Seq[String]], key: String): Option[String] =
    args.get(key).map(_.head)

  /** Run `f` with a session, creating one only when none is active —
    * and stop it only if this call created it (an embedding JVM's
    * session, e.g. a test runner's, must survive a CLI main).
    */
  def withSession[T](f: SparkSession => T): T = {
    val existing = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = existing.getOrElse(LocalSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt,
      sys.env.get("SPARK_GRAFT_MASTER").map("spark.master" -> _).toSeq: _*))
    try f(spark) finally if (existing.isEmpty) spark.stop()
  }

  def fetch(spark: SparkSession, storeRoot: String, id: String): DataFrame =
    spark.read.format("synapse").option("store", storeRoot).load(id)

  def printChecks(prefix: String, rows: Seq[(String, Long, Boolean)]): Unit =
    rows.foreach { case (rule, v, ok) =>
      println(s"[$prefix] ${if (ok) "PASS" else "FAIL"} $rule value=$v")
    }
}

/** `clinical.py main()` — preprocess, optional lens join, oncotree
  * enrichment, patient/sample split, per-dataset export. Reference flags
  * kept: `--dataset` (nargs +, default = every dataset present),
  * `--input_df_synid`, `--cli_to_cbio_mapping_synid` (the attribute
  * mapping), `--cli_to_oncotree_mapping_synid`, `--lens_id_mapping_synid`
  * (optional — skipped when absent, like the reference),
  * `--neoantigen_data_synid`, `--clear_workspace`. Added for the library
  * model: `--store_root`, `--attr_meta_synid`, `--oncotree_names_synid`,
  * `--out_dir`, `--study_id` (the reference hardcodes `iatlas_...` ids
  * and a datahub checkout path).
  */
object ClinicalCli {
  import CliUtil._

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq, boolFlags = Set("clear_workspace"))
    val storeRoot = one(args, "store_root")
    val outDir = one(args, "out_dir")
    val studyId = args.get("study_id").map(_.head).getOrElse("iatlas")
    if (args.contains("clear_workspace")) Tsv.clearDir(outDir)

    withSession { spark =>
    // control tables collected once: later collects of them run no job
    val attrMapping = ClinicalPipeline.controlTable(
      fetch(spark, storeRoot, one(args, "cli_to_cbio_mapping_synid")))
    val attrMeta = ClinicalPipeline.controlTable(
      fetch(spark, storeRoot, one(args, "attr_meta_synid")))
    val (pre0, neoObs, neoRules) = ClinicalPipeline.preprocessObserved(
      fetch(spark, storeRoot, one(args, "input_df_synid")),
      fetch(spark, storeRoot, one(args, "cli_to_oncotree_mapping_synid")),
      fetch(spark, storeRoot, one(args, "neoantigen_data_synid")),
      attrMapping)
    // optional lens id mapping (reference clinical.py:199-262): absent
    // flag -> join skipped entirely
    val (pre, lensObserved) = oneOpt(args, "lens_id_mapping_synid") match {
      case Some(id) =>
        val (joined, obs, rules) = ClinicalPipeline.addLensDisplayNameObserved(
          pre0, fetch(spark, storeRoot, id))
        (joined, Some((obs, rules)))
      case None => (pre0, None)
    }
    val enriched = oneOpt(args, "oncotree_names_synid") match {
      case Some(id) => pre.join(
        broadcast(fetch(spark, storeRoot, id)), Seq("ONCOTREE_CODE"), "left")
      case None => pre
    }
    val (patient, sample) = ClinicalPipeline.splitPatientSample(enriched, attrMapping)
    val datasets = args.get("dataset").map(_.toSeq).getOrElse(
      sample.select("Dataset").distinct().collect().map(_.getString(0)).toSeq.sorted)
    datasets.foreach { ds =>
      val dsStudyId = s"${studyId}_${ds.toLowerCase}"
      val checks = ClinicalPipeline.exportDataset(
        patient, sample, ds, attrMeta, dsStudyId, s"$outDir/$ds")
      // per-dataset package dir: each dataset is its own study package,
      // metas sit next to their data files like StudyRunner's single-
      // dataset package at outDir
      ClinicalPipeline.writeClinicalMetas(s"$outDir/$ds", dsStudyId)
      printChecks(s"clinical:$ds", checks)
    }
    // V15/V16 metrics were collected by the export writes — no extra job
    printChecks("clinical", Rules.observedRows(neoObs, neoRules))
    lensObserved.foreach { case (obs, rules) =>
      printChecks("clinical", Rules.observedRows(obs, rules))
    }
    }
  }
}

/** `maf.py main()` — folder merge, annotation join with error channel,
  * postprocess, write. Reference flags kept: `--dataset`,
  * `--input_folder_synid`, `--max_rows` (default 40000 — the error
  * report carries the same consecutive chunk ids the reference's
  * per-chunk error MAFs had), `--clear_workspace`. Added:
  * `--store_root`, `--annotations_synid`, `--out_dir`, `--study_id`
  * (the reference's `--n_workers` process pool is Spark's own
  * parallelism; its docker annotator is the annotations table / the
  * LiveAnnotator service client).
  */
object MafCli {
  import CliUtil._

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq, boolFlags = Set("clear_workspace"))
    val storeRoot = one(args, "store_root")
    val outDir = one(args, "out_dir")
    val studyId = args.get("study_id").map(_.head)
      .getOrElse("iatlas_" + args.get("dataset").map(_.head).getOrElse("study"))
    val maxRows = args.get("max_rows").map(_.head.toInt).getOrElse(40000)
    if (args.contains("clear_workspace")) Tsv.clearDir(outDir)

    withSession { spark =>
    val maf = MafPipeline.readAndMergeMafsFromStore(
        spark, storeRoot, one(args, "input_folder_synid"))
      .getOrElse(sys.error(s"no .maf children under ${one(args, "input_folder_synid")}"))
    val chunked = MafPipeline.assignChunks(maf, "Tumor_Sample_Barcode", maxRows)
    // persist before the fan-out: three actions read this frame (the
    // output write, the failure count, the failure report) and each
    // would otherwise re-run the whole merge + annotation DAG — on a
    // 10k-file study folder that triples the dominant I/O
    val (annotated, _) = MafPipeline.annotate(
      chunked, fetch(spark, storeRoot, one(args, "annotations_synid")))
    annotated.persist()
    try {
      MafPipeline.writeOutputs(
        MafPipeline.postprocess(annotated).drop("chunk"), studyId, outDir)
      val failed = annotated.filter(col("Annotation_Status") === "FAILED")
        .select((MafPipeline.VariantKey ++ Seq("Tumor_Sample_Barcode", "chunk")).map(col): _*)
      val nErr = failed.count()
      if (nErr > 0)
        Tsv.writeTsvFile(failed, s"$outDir/failed_annotations.txt")
      println(s"[maf] wrote $outDir/data_mutations.txt; failed_annotations=$nErr")
    } finally annotated.unpersist()
    }
  }
}

/** `validate.py main()` — the cross-file report plus the native portal
  * rule set over a written study package. Reference flags kept:
  * `--dataset`, `--neoantigen_data_synid` (optional). Added:
  * `--study_dir` (the package to validate; the reference's
  * `--datahub_tools_path`/`--cbioportal_path` point at the external
  * validator checkouts PortalRules replaces), `--store_root` (when neo
  * is given), `--strict` (non-zero-style failure: throws when any rule
  * fails, the library-friendly twin of the validator's exit code).
  */
object ValidateCli {
  import CliUtil._

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq, boolFlags = Set("strict"))
    val dir = one(args, "study_dir")
    val failed = withSession { spark =>
      val neo = oneOpt(args, "neoantigen_data_synid")
        .map(id => fetch(spark, one(args, "store_root"), id))
      val rows = StudyValidator.report(spark, dir, neo)
      rows.foreach { case (rule, v, ok) =>
        println(s"[validate] ${if (ok) "PASS" else "FAIL"} $rule value=$v")
      }
      println(s"[validate] ${rows.size} rules, ${rows.count(!_._3)} failed")
      rows.count(!_._3)
    }
    if (failed > 0 && args.contains("strict"))
      throw new IllegalStateException(s"validation failed: $failed rule(s)")
  }
}

/** `load.py main()` — case-list generation and the store-back upload.
  * Reference flags kept: `--dataset`, `--output_folder_synid`,
  * `--create_case_lists`, `--upload`, `--version_comment`. Added:
  * `--store_root`, `--study_dir` (where the export wrote),
  * `--study_id`, `--strict` (a missing required output fails the
  * upload instead of only warning, StudyRunner's strictUpload).
  */
object LoadCli {
  import CliUtil._

  def main(argv: Array[String]): Unit = {
    val args = parse(argv.toSeq,
      boolFlags = Set("create_case_lists", "upload", "strict"))
    val dir = one(args, "study_dir")
    val studyId = args.get("study_id").map(_.head)
      .getOrElse("iatlas_" + args.get("dataset").map(_.head).getOrElse("study"))
    withSession { spark =>
    if (args.contains("create_case_lists")) {
      val written = StudyRunner.createCaseLists(spark, dir, studyId)
      println(s"[load] wrote ${written.size} case lists under $dir/case_lists")
    }
    if (args.contains("upload")) {
      val (stored, _) = StudyRunner.upload(one(args, "store_root"), dir, studyId,
        one(args, "output_folder_synid"), args.get("version_comment").map(_.head).getOrElse(""),
        strict = args.contains("strict"))
      stored.foreach { case (f, id) => println(s"[load] stored $f -> $id") }
    }
    }
  }
}

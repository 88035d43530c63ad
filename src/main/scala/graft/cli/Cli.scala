package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.LocalSession
import graft.pipelines.{ClinicalPipeline, MafPipeline, StudyRunner, StudyValidator}
import graft.sources.Tsv

/** The reference's four argparse CLIs (`clinical.py:842-888`,
  * `maf.py:273-308`, `validate.py:230-251`, `load.py:85-133`) as thin
  * `main`s over [[StudyRunner]]'s stages — same flag names where the
  * concept survives the port, with the network-Synapse ids resolving
  * against the local entity store (`--store_root`, the sandbox stand-in
  * for a Synapse connection). Everything here is argument plumbing: each
  * stage has its one definition in [[StudyRunner]], so a package the
  * CLIs write has the bytes of [[StudyRunner.run]]'s.
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

  def printChecks(prefix: String, rows: Seq[(String, Long, Boolean)]): Unit =
    rows.foreach { case (rule, v, ok) =>
      println(s"[$prefix] ${if (ok) "PASS" else "FAIL"} $rule value=$v")
    }
}

/** `clinical.py main()` — a thin main over [[StudyRunner]]'s clinical
  * stage: preprocess, the optional lens join, then per dataset the
  * oncotree enrichment, patient/sample split and export, into
  * `$out_dir/$dataset` under the study id `${study_id}_${dataset.lower}`.
  * Reference flags kept: `--dataset` (nargs +, default = every dataset
  * present), `--input_df_synid`, `--cli_to_cbio_mapping_synid` (the
  * attribute mapping), `--cli_to_oncotree_mapping_synid`,
  * `--lens_id_mapping_synid` (optional — skipped when absent, like the
  * reference), `--neoantigen_data_synid`, `--clear_workspace`. Added for
  * the library model: `--store_root`, `--attr_meta_synid`,
  * `--oncotree_names_synid`, `--out_dir`, `--study_id` (the reference
  * hardcodes `iatlas_...` ids and a datahub checkout path).
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
    val preprocessed = StudyRunner.preprocessClinical(spark, storeRoot,
      one(args, "input_df_synid"), one(args, "cli_to_oncotree_mapping_synid"),
      one(args, "neoantigen_data_synid"), one(args, "cli_to_cbio_mapping_synid"),
      one(args, "attr_meta_synid"))
    // optional lens id mapping (reference clinical.py:199-262): absent
    // flag -> join skipped entirely
    val pre = oneOpt(args, "lens_id_mapping_synid").fold(preprocessed) { id =>
      val (joined, obs, rules) = ClinicalPipeline.addLensDisplayNameObserved(
        preprocessed.frame, StudyRunner.fetch(spark, storeRoot, id))
      preprocessed.copy(frame = joined, observed = preprocessed.observed :+ (obs -> rules))
    }
    val datasets = args.get("dataset").getOrElse(
      pre.frame.select("Dataset").distinct().collect().map(_.getString(0)).toSeq.sorted)
    datasets.foreach { ds =>
      // each dataset is its own study package
      printChecks(s"clinical:$ds", StudyRunner.exportClinical(spark, storeRoot, pre,
        oneOpt(args, "oncotree_names_synid"), ds, s"${studyId}_${ds.toLowerCase}",
        s"$outDir/$ds"))
    }
    // V15/V16 metrics were collected by the export writes — no extra job
    printChecks("clinical", pre.observedRows)
    }
  }
}

/** `maf.py main()` — a thin main over [[StudyRunner]]'s MAF stage
  * (folder merge, annotation join with error channel, postprocess,
  * write), plus the failure report. Reference flags kept: `--dataset`,
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
    val annotated = StudyRunner.exportMaf(spark, storeRoot, one(args, "input_folder_synid"),
      one(args, "annotations_synid"), studyId, outDir)
    // failed_annotations.txt: the FAILED rows with their chunk, the
    // rank of every annotated row in barcode order (F9). The narrow
    // input is cached after the write, so the rank's two passes, the
    // count and the report write share one run of the merge and join.
    val keyed = annotated.select((MafPipeline.VariantKey ++
      Seq("Tumor_Sample_Barcode", "Annotation_Status")).map(col): _*).persist()
    try {
      val failed = MafPipeline.assignChunks(keyed, "Tumor_Sample_Barcode", maxRows)
        .filter(col("Annotation_Status") === "FAILED").drop("Annotation_Status")
      val nErr = failed.count()
      if (nErr > 0)
        Tsv.writeTsvFile(failed, s"$outDir/failed_annotations.txt")
      println(s"[maf] wrote $outDir/data_mutations.txt; failed_annotations=$nErr")
    } finally keyed.unpersist()
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
        .map(StudyRunner.fetch(spark, one(args, "store_root"), _))
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

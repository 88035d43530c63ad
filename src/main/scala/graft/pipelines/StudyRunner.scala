package graft.pipelines

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Schemas
import graft.sources.SynapseStore
import graft.validation.{Async, PortalRules, Rules}

/** The reference's full study lifecycle as one callable (SURVEY §3:
  * `clinical.py main` → `maf.py main` → `validate.py main` →
  * `load.py` store): inputs fetched from the Synapse-shaped entity
  * store by id (`syn.get` at the head), Spark plans in between, and
  * every produced required output stored back under one version
  * comment (`syn.store` at the tail, `load.py:38-82`). The pieces are
  * the already-tested pipeline stages.
  *
  * `clinical.py` and `maf.py` are independent programs whose outputs
  * meet only in the case lists and validation, so [[run]] runs them as
  * two lanes at once. Each lane reads back what it wrote once, as
  * strings: the MAF lane checks its file there (V12, V13 and the
  * strict-MAF field pass, as `maf.py` checks its own output) and takes
  * the barcodes `cases_sequenced` needs; the clinical lane reads the
  * sample and patient files and collects the sample ids. The package
  * step then writes the case lists from those and runs the rest of the
  * report over the same frames (the clinical value rules, the key
  * census, the structural layer) alongside the upload. Its two `load.py` stages, [[createCaseLists]] and
  * [[upload]], are also what `LoadCli` runs.
  */
object StudyRunner {

  /** The synIds a study run consumes (the reference passes these as
    * CLI arguments / constants, e.g. `clinical.py:319`, `maf.py:23`).
    */
  case class StudyInputs(clinicalId: String, oncotreeId: String, neoId: String,
                         attrMappingId: String, attrMetaId: String,
                         oncotreeNamesId: String, mafFolderId: String,
                         annotationsId: String)

  case class StudyResult(outDir: String,
                         clinicalChecks: Seq[(String, Long, Boolean)],
                         validation: Seq[(String, String, Boolean)],
                         storedOutputs: Map[String, String],
                         missingOutputs: Seq[String])

  /** `strictUpload = true` makes a missing required output fail the run
    * (the reference's `syn.store(File(...))` raises on an absent path —
    * `load.py:57-66`); the default records the absences in
    * [[StudyResult.missingOutputs]] and warns, for studies that
    * legitimately carry a subset of the global data types.
    *
    * `validation` is row for row what [[StudyValidator.report]] returns
    * over the written package. A failure is rethrown only once every
    * task the run started has finished.
    */
  def run(spark: SparkSession, storeRoot: String, in: StudyInputs,
          dataset: String, studyId: String, outDir: String,
          outputFolderId: String, versionComment: String,
          strictUpload: Boolean = false): StudyResult = {
    def fetch(id: String): DataFrame =
      spark.read.format("synapse").option("store", storeRoot).load(id)

    // --- §3.2 maf main: folder merge -> annotate -> postprocess -> write,
    // then the MAF's own checks over the file as written, on a pool
    // thread while the clinical lane runs on this one; both have
    // finished, whatever either threw, before anything below runs
    val mafLane = Async(spark) {
      val maf = MafPipeline.readAndMergeMafsFromStore(spark, storeRoot, in.mafFolderId)
        .getOrElse(throw new IllegalArgumentException(
          s"no .maf children under ${in.mafFolderId}"))
      val (annotated, _) = MafPipeline.annotate(maf, fetch(in.annotationsId))
      MafPipeline.writeOutputs(MafPipeline.postprocess(annotated), studyId, outDir)
      val written = StudyValidator.readWritten(spark, outDir, PortalRules.MafFile).get
      val barcodes = Async(spark)(LoadPipeline.sequencedBarcodes(written))
      val (ids, checks) = Async.alongside(barcodes)(
        StudyValidator.mafChecks(spark, written, Some(fetch(in.neoId))))
      (written, checks, ids)
    }

    // --- §3.1 clinical main: preprocess -> enrich -> split -> export
    val ((maf, mafChecks, barcodes), (clinicalChecks, sample, patient, sampleIds)) =
      Async.alongside(mafLane) {
        val attrMapping = ClinicalPipeline.controlTable(fetch(in.attrMappingId))
        val attrMeta = ClinicalPipeline.controlTable(fetch(in.attrMetaId))
        // V16 rides the chain's first action as an observe metric (zero
        // extra pass); read back below once the export has run
        val (pre, neoObs, neoRules) = ClinicalPipeline.preprocessObserved(
          fetch(in.clinicalId), fetch(in.oncotreeId), fetch(in.neoId), attrMapping)
        // J4: oncotree code -> cancer-type names via broadcast lookup (the
        // reference shells out to a converter tool here, clinical.py:477-496)
        val enriched = pre.join(
          broadcast(fetch(in.oncotreeNamesId)), Seq("ONCOTREE_CODE"), "left")
        val (patient, sample) = ClinicalPipeline.splitPatientSample(enriched, attrMapping)
        val exportChecks = ClinicalPipeline.exportDataset(
          patient, sample, dataset, attrMeta, studyId, outDir)
        ClinicalPipeline.writeClinicalMetas(outDir, studyId)
        // the written clinical files, read back as strings: the patient
        // file on a pool thread while the sample ids are collected
        val patientRead = Async(spark)(
          StudyValidator.readWritten(spark, outDir, PortalRules.PatientFile))
        val sampleRead = StudyValidator.readWritten(spark, outDir, PortalRules.SampleFile)
        val (patientWritten, ids) =
          Async.alongside(patientRead)(LoadPipeline.sampleIds(sampleRead.get))
        (exportChecks ++ Rules.observedRows(neoObs, neoRules), sampleRead, patientWritten, ids)
      }

    // --- the package step: the clinical value rules; then load.py
    // --create_case_lists (cases_all + cases_sequenced), and load.py
    // --upload alongside the rest of §3.3 validate main
    val values = Async(spark)(PortalRules.valueRows(spark, outDir, sample, patient))
    LoadPipeline.writeCaseLists(sampleIds, barcodes, studyId, s"$outDir/case_lists")
    val uploaded = Async(spark)(
      upload(storeRoot, outDir, studyId, outputFolderId, versionComment, strictUpload))
    val ((stored, missingOutputs), validation) = Async.alongside(uploaded)(
      StudyValidator.packageReport(spark, outDir, sample, patient, Some(maf), Some(mafChecks),
        values))
    StudyResult(outDir, clinicalChecks, validation, stored, missingOutputs)
  }

  /** `load.py --create_case_lists`: `cases_all` + `cases_sequenced` from
    * the package's written sample and MAF files. Both are read as
    * strings ([[StudyValidator.readWritten]]), so the lists carry the ids
    * exactly as written — an inferred read would turn a `SAMPLE_ID` of
    * `007` into 7 — and each read is one header job instead of a header
    * job plus an inference pass.
    */
  def createCaseLists(spark: SparkSession, outDir: String, studyId: String): Seq[Path] = {
    def written(file: String): DataFrame = StudyValidator.readWritten(spark, outDir, file)
      .getOrElse(throw new IllegalArgumentException(s"no $file under $outDir"))
    LoadPipeline.generateCaseLists(written(PortalRules.SampleFile),
      written(PortalRules.MafFile), studyId, s"$outDir/case_lists")
  }

  /** `load.py --upload`: store back every produced required output
    * verbatim (files as-is, like `syn.store(File(...))`, `load.py:57-66`),
    * plus the case-list folder's children. Returns the stored file →
    * entity id map and the required outputs that were absent.
    *
    * An absent required output never vanishes silently: `strict` fails
    * like the reference's `syn.store` on a missing path, otherwise the
    * absence is returned and warned about.
    */
  def upload(storeRoot: String, outDir: String, studyId: String, outputFolderId: String,
             versionComment: String, strict: Boolean): (Map[String, String], Seq[String]) = {
    val caseLists = Option(Paths.get(outDir, "case_lists").toFile.listFiles())
      .map(_.toSeq.map(f => s"case_lists/${f.getName}")).getOrElse(Seq.empty)
    val missing = Schemas.RequiredOutputFiles
      .filterNot(f => Files.exists(Paths.get(outDir, f)))
    if (missing.nonEmpty) {
      val msg = s"study upload $studyId: required outputs absent: " + missing.mkString(", ")
      if (strict) throw new IllegalStateException(msg)
      System.err.println(s"[graft] WARN $msg")
    }
    val stored = (Schemas.RequiredOutputFiles ++ caseLists)
      .filter(f => Files.exists(Paths.get(outDir, f)))
      .map { f =>
        // case lists land under a child folder, as the reference's
        // Folder("case_lists", parent=output) does (load.py:68-74)
        val parent = if (f.startsWith("case_lists/"))
          s"$outputFolderId/case_lists" else outputFolderId
        f -> SynapseStore.storeFile(storeRoot, Paths.get(outDir, f).toString,
          Paths.get(f).getFileName.toString, parent, versionComment)
      }.toMap
    (stored, missing)
  }
}

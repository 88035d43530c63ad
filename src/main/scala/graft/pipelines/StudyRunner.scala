package graft.pipelines

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.broadcast

import graft.Schemas
import graft.sources.{SynapseStore, Tsv}
import graft.validation.{Async, PortalRules, Rules}

/** The reference's full study lifecycle (SURVEY §3: `clinical.py main`
  * → `maf.py main` → `validate.py main` → `load.py` store), one
  * definition per stage: inputs fetched from the Synapse-shaped entity
  * store by id ([[fetch]], `syn.get`), the clinical stage
  * ([[preprocessClinical]], then [[exportClinical]] per dataset), the
  * MAF stage ([[exportMaf]]), the case lists ([[createCaseLists]]) and
  * the store-back upload ([[upload]], `syn.store`, `load.py:38-82`).
  * [[run]] runs every stage for one dataset; the `graft.cli` mains run
  * the same stages one program at a time.
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
  * census, the structural layer) alongside the upload.
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

  /** `syn.get`: the latest version of entity `id` in the store at
    * `storeRoot`, read through the `synapse` format.
    */
  def fetch(spark: SparkSession, storeRoot: String, id: String): DataFrame =
    spark.read.format("synapse").option("store", storeRoot).load(id)

  /** The clinical stage's preprocessed frame, with what the rest of the
    * stage reads: the control tables, collected once, and the
    * observations whose checks the frame's first action collects (V16;
    * V15 too once a lens join is added).
    */
  final case class Preprocessed(frame: DataFrame, attrMapping: DataFrame, attrMeta: DataFrame,
                                observed: Seq[(Observation, Seq[Rules.Rule])]) {
    /** The observed checks, in order; read them once an export has run. */
    def observedRows: Seq[(String, Long, Boolean)] =
      observed.flatMap { case (obs, rules) => Rules.observedRows(obs, rules) }
  }

  /** `clinical.py main()` up to the preprocessed frame (reference
    * `clinical.py:290-362`): the attribute mapping and metadata control
    * tables collected once, so later collects of them run no job, then
    * [[ClinicalPipeline.preprocessObserved]].
    */
  def preprocessClinical(spark: SparkSession, storeRoot: String, clinicalId: String,
                         oncotreeId: String, neoId: String, attrMappingId: String,
                         attrMetaId: String): Preprocessed = {
    def get(id: String) = fetch(spark, storeRoot, id)
    val attrMapping = ClinicalPipeline.controlTable(get(attrMappingId))
    val attrMeta = ClinicalPipeline.controlTable(get(attrMetaId))
    val (pre, obs, rules) = ClinicalPipeline.preprocessObserved(
      get(clinicalId), get(oncotreeId), get(neoId), attrMapping)
    Preprocessed(pre, attrMapping, attrMeta, Seq(obs -> rules))
  }

  /** The rest of `clinical.py main()` for one dataset: the oncotree code
    * → cancer-type names join (J4; skipped without `oncotreeNamesId`),
    * the patient/sample split, and the dataset's export and clinical
    * metas into `outDir` under `studyId`. Returns the export's checks.
    */
  def exportClinical(spark: SparkSession, storeRoot: String, pre: Preprocessed,
                     oncotreeNamesId: Option[String], dataset: String, studyId: String,
                     outDir: String): Seq[(String, Long, Boolean)] = {
    // a broadcast lookup, where the reference shells out to a converter
    // tool (clinical.py:477-496)
    val enriched = oncotreeNamesId.fold(pre.frame)(id => pre.frame.join(
      broadcast(fetch(spark, storeRoot, id)), Seq("ONCOTREE_CODE"), "left"))
    val (patient, sample) = ClinicalPipeline.splitPatientSample(enriched, pre.attrMapping)
    val checks = ClinicalPipeline.exportDataset(
      patient, sample, dataset, pre.attrMeta, studyId, outDir)
    ClinicalPipeline.writeClinicalMetas(outDir, studyId)
    checks
  }

  /** `maf.py main()`: the folder merge, the annotation join (J5),
    * postprocess, and `data_mutations.txt` with its meta file written
    * into `outDir` under `studyId`. Returns the annotated frame, chrM
    * rows included, for checks of the annotation itself.
    */
  def exportMaf(spark: SparkSession, storeRoot: String, mafFolderId: String,
                annotationsId: String, studyId: String, outDir: String): DataFrame = {
    val maf = MafPipeline.readAndMergeMafsFromStore(spark, storeRoot, mafFolderId)
      .getOrElse(throw new IllegalArgumentException(s"no .maf children under $mafFolderId"))
    val (annotated, _) = MafPipeline.annotate(maf, fetch(spark, storeRoot, annotationsId))
    MafPipeline.writeOutputs(MafPipeline.postprocess(annotated), studyId, outDir)
    annotated
  }

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
    // --- §3.2 the MAF stage, then the MAF's own checks over the file as
    // written, on a pool thread while the clinical lane runs on this one;
    // both have finished, whatever either threw, before anything below runs
    val mafLane = Async(spark) {
      exportMaf(spark, storeRoot, in.mafFolderId, in.annotationsId, studyId, outDir)
      val written = Tsv.readWritten(spark, outDir, PortalRules.MafFile).get
      (written, StudyValidator.mafChecks(spark, written, Some(fetch(spark, storeRoot, in.neoId))))
    }

    // --- §3.1 the clinical stage
    val ((maf, mafChecks), (clinicalChecks, sample, patient, sampleIds)) =
      Async.alongside(mafLane) {
        val pre = preprocessClinical(spark, storeRoot, in.clinicalId, in.oncotreeId, in.neoId,
          in.attrMappingId, in.attrMetaId)
        val exportChecks = exportClinical(spark, storeRoot, pre, Some(in.oncotreeNamesId),
          dataset, studyId, outDir)
        // the written clinical files, read back as strings: the patient
        // file on a pool thread while the sample ids are collected
        val patientRead = Async(spark)(Tsv.readWritten(spark, outDir, PortalRules.PatientFile))
        val sampleRead = Tsv.readWritten(spark, outDir, PortalRules.SampleFile)
        val (patientWritten, ids) =
          Async.alongside(patientRead)(LoadPipeline.sampleIds(sampleRead.get))
        (exportChecks ++ pre.observedRows, sampleRead, patientWritten, ids)
      }

    // --- the package step: the clinical value rules; then load.py
    // --create_case_lists (cases_all + cases_sequenced), and load.py
    // --upload alongside the rest of §3.3 validate main
    val values = Async(spark)(PortalRules.valueRows(spark, outDir, sample, patient))
    LoadPipeline.writeCaseLists(sampleIds, mafChecks.barcodes, studyId, s"$outDir/case_lists")
    val uploaded = Async(spark)(
      upload(storeRoot, outDir, studyId, outputFolderId, versionComment, strictUpload))
    val ((stored, missingOutputs), validation) = Async.alongside(uploaded)(
      StudyValidator.packageReport(spark, outDir, sample, patient, Some(maf), Some(mafChecks),
        values))
    StudyResult(outDir, clinicalChecks, validation, stored, missingOutputs)
  }

  /** `load.py --create_case_lists`: `cases_all` + `cases_sequenced` from
    * the package's written sample and MAF files. Both are read as
    * strings ([[Tsv.readWritten]]), so the lists carry the ids
    * exactly as written — an inferred read would turn a `SAMPLE_ID` of
    * `007` into 7 — and each read is one header job instead of a header
    * job plus an inference pass.
    */
  def createCaseLists(spark: SparkSession, outDir: String, studyId: String): Seq[Path] = {
    def written(file: String): DataFrame = Tsv.readWritten(spark, outDir, file)
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

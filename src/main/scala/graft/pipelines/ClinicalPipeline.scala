package graft.pipelines

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.Fns
import graft.sources.Tsv
import graft.validation.{Async, Rules}

/** The reference's clinical export pipeline (`clinical.py main()`,
  * SURVEY §3.1) as a composable library: one lazy DataFrame chain for
  * preprocessing — Catalyst fuses the projections/filters, the mapping
  * joins broadcast. Every step cites the operator it reproduces
  * (SURVEY §2).
  *
  * The clinical table is the only big input; mappings are control
  * tables, collected once into driver-local frames ([[controlTable]])
  * or broadcast. Nothing persists the chain, so each action re-runs it
  * from the inputs with the dataset filter (P3) applied: a persisted
  * frame writes the same rows in another order. [[exportDataset]] runs
  * four actions per dataset, two at a time: one census per frame, then
  * each frame's file write. [[graft.pipelines.StudyRunner]]'s clinical
  * stage composes these steps, once per dataset.
  */
object ClinicalPipeline {

  /** `ONCOTREE_MERGE_COLS` (reference `clinical.py:45`). */
  val OncotreeMergeCols: Seq[String] = Seq("TCGA_Study", "AMADEUS_Study", "Dataset")

  val SurvivalStatusCols: Seq[String] = Seq("OS_STATUS", "PFS_STATUS")
  val SurvivalMonthsCols: Seq[String] = Seq("OS_MONTHS", "PFS_MONTHS")

  /** J1 — broadcast left join adding ONCOTREE_CODE
    * (reference `clinical.py:320-327`).
    */
  def joinOncotree(clinical: DataFrame, oncotree: DataFrame): DataFrame =
    clinical.join(
      broadcast(oncotree.select((OncotreeMergeCols :+ "ONCOTREE_CODE").map(col): _*)),
      OncotreeMergeCols, "left")

  /** F4 — remap to paper ids with per-row fallback, then canonical names
    * (reference `clinical.py:170-196`).
    */
  def remapToPaperIds(df: DataFrame): DataFrame =
    df.withColumn("SAMPLE_ID", Fns.remapId(col("study_sample_name"), col("sample_name")))
      .withColumn("PATIENT_ID", Fns.remapId(col("study_patient_name"), col("patient_name")))
      .drop("sample_name", "patient_name", "study_sample_name", "study_patient_name")

  /** J3 + V16 — full outer neoantigen merge (reference
    * `clinical.py:265-287`); growth beyond the clinical row count means
    * neo-only samples. The V16 neo-only count (0 = pass) rides the joined
    * frame's FIRST MATERIALIZATION as an `observe` metric — no job of its
    * own, same pattern as V2/V5/V6 in [[exportDataset]]. A clinical-side
    * tag column marks which outer-join rows came from neo alone; the tag
    * is projected away before return, the CollectMetrics node survives
    * downstream projections.
    */
  def mergeNeoantigenObserved(clinical: DataFrame, neo: DataFrame)
      : (DataFrame, org.apache.spark.sql.Observation, Seq[Rules.Rule]) = {
    val joined = clinical.withColumn("__clin", lit(1L))
      .join(neo, Seq("SAMPLE_ID"), "outer")
    val rules = Seq(Rules.Rule("neo_only_samples",
      sum(when(col("__clin").isNull, 1L).otherwise(0L))))
    val (obsDf, obs) = Rules.observed(joined, "graft_v16_neo_merge", rules)
    (obsDf.drop("__clin"), obs, rules)
  }

  /** P7 — bulk rename driven by the attribute mapping control table
    * (reference `clinical.py:334-340`): iATLAS_attribute → NORMALIZED_HEADER.
    */
  def renameToNormalizedHeaders(df: DataFrame, attrMapping: DataFrame): DataFrame = {
    val pairs = attrMapping
      .select("iATLAS_attribute", "NORMALIZED_HEADER").collect()
      .map(r => r.getString(0) -> r.getString(1))
      .filter { case (from, to) => from != to && df.columns.contains(from) }
      .toMap
    df.withColumnsRenamed(pairs)
  }

  /** P1 — drop non-analysis samples: `-(nd|ad|nr)-` ids, only within
    * Anders_JITC_2022; null SAMPLE_ID counts as non-match → kept
    * (reference `clinical.py:74-95`).
    */
  def filterNonAnalysisSamples(df: DataFrame): DataFrame =
    df.filter(
      (!Fns.rlikeNaFalse(col("SAMPLE_ID"), "-(?:nd|ad|nr)-") &&
        col("Dataset") === "Anders_JITC_2022") ||
        Fns.neqKeepNulls(col("Dataset"), lit("Anders_JITC_2022")))

  /** F5 + F6 — survival recodes and day→month conversions; each is a
    * no-op if the column is absent (reference `clinical.py:403-422`,
    * `clinical.py:515-535`).
    */
  def transformSurvival(df: DataFrame): DataFrame = {
    val present = df.columns.toSet
    df.withColumns((
      SurvivalStatusCols.filter(present).map(c =>
        c -> Fns.recodeSurvivalStatus(col(c), "0:LIVING", "1:DECEASED")) ++
        SurvivalMonthsCols.filter(present).map(c => c -> Fns.daysToMonths(col(c)))).toMap)
  }

  /** F2/F3 — mapping-driven case normalization: `Case == "CAPS"` → upper,
    * `"Title Case"` → initcap (reference `clinical.py:136-167`).
    */
  def normalizeCase(df: DataFrame, attrMapping: DataFrame): DataFrame = {
    val cases = attrMapping.select("NORMALIZED_HEADER", "Case").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    df.withColumns(df.columns.toSeq.flatMap { name =>
      cases.get(name).collect {
        case "CAPS" => name -> Fns.capsCase(Fns.qcol(name))
        case "Title Case" => name -> Fns.titleCase(Fns.qcol(name))
      }
    }.toMap)
  }

  /** The full preprocessing chain (reference `clinical.py:290-362`):
    * J1 → F4 → J3/V16 → P7 → P1 → F5/F6 → F1 → F2/F3, one lazy plan. The
    * V16 neo-only count is an observe metric collected by whatever action
    * first materializes the chain (in [[graft.pipelines.StudyRunner]],
    * the export itself).
    */
  def preprocessObserved(clinical: DataFrame, oncotree: DataFrame, neo: DataFrame,
                         attrMapping: DataFrame)
      : (DataFrame, org.apache.spark.sql.Observation, Seq[Rules.Rule]) = {
    val (merged, obs, rules) =
      mergeNeoantigenObserved(remapToPaperIds(joinOncotree(clinical, oncotree)), neo)
    val out = normalizeCase(
      Fns.stripSuffixesFromStringColumns(
        transformSurvival(
          filterNonAnalysisSamples(
            renameToNormalizedHeaders(merged, attrMapping)))),
      attrMapping)
    (out, obs, rules)
  }

  /** J2 + V14/V15 — optional lens join, mapping key cast-normalized to
    * string (reference `clinical.py:199-262`). The V15 null-display-name
    * count (0 = pass) rides the joined frame's first materialization —
    * the no-extra-job pattern of [[exportDataset]]'s V2/V5/V6.
    */
  def addLensDisplayNameObserved(df: DataFrame, lens: DataFrame)
      : (DataFrame, org.apache.spark.sql.Observation, Seq[Rules.Rule]) = {
    val mapping = broadcast(lens
      .select(col("study_sample_name").cast(StringType).as("SAMPLE_ID"),
        col("lens_id").as("SAMPLE_DISPLAY_NAME")))
    val joined = df.join(mapping, Seq("SAMPLE_ID"), "left")
    val rules = Seq(Rules.Rule("lens_display_name_nulls",
      sum(when(col("SAMPLE_DISPLAY_NAME").isNull, 1L).otherwise(0L))))
    val (obsDf, obs) = Rules.observed(joined, "graft_v15_lens_join", rules)
    (obsDf, obs, rules)
  }

  /** P6 + A6 — attribute-type-driven split into patient/sample frames
    * (reference `clinical.py:365-400`).
    */
  def splitPatientSample(df: DataFrame, attrMapping: DataFrame): (DataFrame, DataFrame) = {
    val byType = attrMapping.select("NORMALIZED_HEADER", "ATTRIBUTE_TYPE").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val present = df.columns.toSet
    // Dataset rides along in both frames — the per-dataset fan-out (P3)
    // filters on it and drops it before writing.
    val dsCol = Seq("Dataset").filter(present)
    val patientCols = ("PATIENT_ID" +:
      df.columns.filter(c => byType.get(c).contains("PATIENT")).toSeq) ++ dsCol
    val sampleFixed = Seq("SAMPLE_ID", "PATIENT_ID", "CANCER_TYPE", "CANCER_TYPE_DETAILED")
      .filter(present)
    val sampleCols = (sampleFixed ++
      df.columns.filter(c => byType.get(c).contains("SAMPLE")) ++ dsCol).distinct
    (df.select(patientCols.distinct.map(Fns.qcol): _*).distinct(),
      df.select(sampleCols.map(Fns.qcol): _*))
  }

  /** P5 — drop columns with zero non-null values: one aggregate pass then
    * the pruned projection (reference `clinical.py:538-547`).
    */
  def dropAllNaColumns(df: DataFrame): DataFrame =
    df.select(nonNullColumns(df, census(df)).map(Fns.qcol): _*)

  /** One aggregate pass over `df`: the non-null count of every column, in
    * column order, then the `extra` aggregates.
    */
  private def census(df: DataFrame, extra: Column*): Row =
    df.select(df.columns.toSeq.map(c => count(Fns.qcol(c)).as(c)) ++ extra: _*).head()

  /** The columns of `df` whose [[census]] count is above zero. */
  private def nonNullColumns(df: DataFrame, census: Row): Seq[String] =
    df.columns.toSeq.zipWithIndex.collect { case (c, i) if census.getLong(i) > 0 => c }

  /** A control table collected once into a driver-local frame: every
    * later collect of it (the rename, case and split maps, the header
    * blocks) reads the local relation and runs no job.
    */
  def controlTable(df: DataFrame): DataFrame =
    df.sparkSession.createDataFrame(df.collectAsList(), df.schema)

  /** A7 + U2 — merge new mapping rows into the attribute-metadata table,
    * keep-LAST per NORMALIZED_COLUMN_HEADER (new rows override existing;
    * reference `clinical.py:440-474`). pandas keep-last = highest
    * (source priority, row position) → explicit ordering columns, since
    * Spark has no physical row order to lean on.
    */
  def updateAttributeMetadata(existing: DataFrame, updates: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // __pos must reproduce pandas' physical row order. A bare
    // monotonically_increasing_id orders by (partition, offset), which is
    // NOT source row order once a frame spans partitions or was
    // repartitioned — so each side is first coalesced to one partition,
    // where offset == row order. These are small control tables (dozens of
    // attribute rows), so the single partition costs nothing.
    def withPos(df: DataFrame): DataFrame =
      df.coalesce(1).withColumn("__pos", monotonically_increasing_id())
    val all = withPos(existing).withColumn("__src", lit(0))
      .unionByName(withPos(updates).withColumn("__src", lit(1)),
        allowMissingColumns = true)
    val w = Window.partitionBy(col("NORMALIZED_COLUMN_HEADER"))
      .orderBy(col("__src").desc, col("__pos").desc)
    all.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__src", "__pos", "__rn")
  }

  /** The two clinical meta files every study package carries, written
    * next to their data files (meta_clinical_{patient,sample}.txt,
    * cBioPortal's `meta_*` ingestion descriptors).
    */
  def writeClinicalMetas(outDir: String, studyId: String): Unit = {
    graft.sources.Tsv.writeMetaFile(s"$outDir/meta_clinical_patient.txt", Seq(
      "cancer_study_identifier" -> studyId,
      "genetic_alteration_type" -> "CLINICAL",
      "datatype" -> "PATIENT_ATTRIBUTES",
      "data_filename" -> "data_clinical_patient.txt"))
    graft.sources.Tsv.writeMetaFile(s"$outDir/meta_clinical_sample.txt", Seq(
      "cancer_study_identifier" -> studyId,
      "genetic_alteration_type" -> "CLINICAL",
      "datatype" -> "SAMPLE_ATTRIBUTES",
      "data_filename" -> "data_clinical_sample.txt"))
  }

  /** Per-dataset export (reference `clinical.py:922-950`): P3 filter →
    * P5 drop-all-NA → headered patient/sample TSVs + K3 case lists.
    * Returns the V1–V7-style report rows for the dataset.
    *
    * Each frame's order-free facts come from one census pass: the
    * non-null count of every column (P5's keep-set) and, for the sample
    * frame, the (cancer type, sample id) pairs of the per-type case
    * lists. Each frame's census and then its write run on a thread of
    * their own, so the two censuses run at once, and so do the writes.
    */
  def exportDataset(patient: DataFrame, sample: DataFrame, dataset: String,
                    attrMeta: DataFrame, studyId: String,
                    outDir: String): Seq[(String, Long, Boolean)] = {
    val spark = sample.sparkSession
    val sampleIn = sample.filter(col("Dataset") === dataset).drop("Dataset")
    val patientIn = patient.filter(col("Dataset") === dataset).drop("Dataset")

    // one collect of the control table serves both header blocks; an
    // attribute it does not describe takes name / name / STRING / 1
    val meta = attrMeta
      .select("NORMALIZED_COLUMN_HEADER", "DISPLAY_NAME", "DESCRIPTION", "DATA_TYPE", "PRIORITY")
      .collect()
      .map(r => r.getString(0) ->
        Tsv.HeaderFields(r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .toMap
    def writeHeadered(df: DataFrame, file: String): Unit =
      Tsv.writeTsvFile(df, s"$outDir/$file", Tsv.headerBlock(df.columns.toSeq.map(c =>
        (c, meta.getOrElse(c, Tsv.HeaderFields.Unknown), "STRING"))))

    // V2/V5/V6 ride the export write itself (Rules.observed → df.observe):
    // the counters are computed by the SAME pass that serializes the
    // rows, where the reference re-scans once per rule
    // (`clinical.py:809-837`) — at 100 TB each separate validation
    // aggregate is another full pass.
    val exportRules = Seq(
      Rules.rowCount(dataset),
      Rules.Rule(s"no_null_sample_id_$dataset",
        sum(when(col("SAMPLE_ID").isNull, 1L).otherwise(0L))),
      Rules.Rule(s"no_null_patient_id_$dataset",
        sum(when(col("PATIENT_ID").isNull, 1L).otherwise(0L))))

    // each frame's census, then its write; the two frames at once
    val patientExport = Async(spark) {
      val keep = nonNullColumns(patientIn, census(patientIn))
      writeHeadered(patientIn.select(keep.map(Fns.qcol): _*).distinct(),
        "data_clinical_patient.txt")
    }
    val byType = sampleIn.columns.contains("CANCER_TYPE")
    val (_, obs) = Async.alongside(patientExport) {
      val counts = census(sampleIn,
        (if (byType) Seq(Tsv.caseListPairs("CANCER_TYPE", "SAMPLE_ID")) else Nil): _*)
      val keep = nonNullColumns(sampleIn, counts)
      // the case lists of the kept CANCER_TYPE column, from the census
      if (keep.contains("CANCER_TYPE"))
        Tsv.writeCaseListPairs(counts.getSeq[Row](sampleIn.columns.length), studyId,
          s"$outDir/case_lists")
      val (sampleObserved, obs) = Rules.observed(
        sampleIn.select(keep.map(Fns.qcol): _*), s"graft_v_$dataset", exportRules)
      writeHeadered(sampleObserved, "data_clinical_sample.txt")
      obs
    }
    Tsv.writeMetaFile(s"$outDir/meta_study.txt", Seq(
      "type_of_cancer" -> "mixed",
      "cancer_study_identifier" -> studyId,
      "name" -> s"$studyId ($dataset)",
      "description" -> s"$studyId ($dataset)",
      "reference_genome" -> "hg38"))

    // the metrics were collected during the sample write — no re-scan
    Rules.observedRows(obs, exportRules)
  }
}

package graft.pipelines

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.functions.Fns
import graft.sources.{Layout, Tsv}
import graft.validation.Rules

/** The reference's clinical export pipeline (`clinical.py main()`,
  * SURVEY §3.1) as a composable library: one lazy DataFrame chain for
  * preprocessing — Catalyst fuses the projections/filters, the two
  * mapping joins broadcast — materialized once before the per-dataset
  * fan-out. Every step cites the operator it reproduces (SURVEY §2).
  *
  * Scale design: the clinical table is the only big input; mappings are
  * control tables (broadcast). The per-dataset loop filters a cached
  * frame (P3) — at cluster scale the same code writes
  * `partitionBy("Dataset")` and prunes. The all-NA column drop (P5) is
  * the one planned action before the final projection, same two-phase
  * shape as the reference.
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

  /** J3 + V16 — full outer neoantigen merge; growth beyond the clinical
    * row count means neo-only samples (reference `clinical.py:265-287`).
    * Returns the joined frame plus the count of neo-only keys (the
    * validation value; 0 = pass) computed with one anti-join instead of
    * two counts.
    */
  def mergeNeoantigen(clinical: DataFrame, neo: DataFrame): (DataFrame, Long) = {
    val joined = clinical.join(neo, Seq("SAMPLE_ID"), "outer")
    val neoOnly = neo.select("SAMPLE_ID")
      .join(clinical.select("SAMPLE_ID"), Seq("SAMPLE_ID"), "left_anti").count()
    (joined, neoOnly)
  }

  /** [[mergeNeoantigen]], observed form: the V16 neo-only count rides the
    * joined frame's FIRST MATERIALIZATION as an `observe` metric — zero
    * extra pass, same pattern as V2/V5/V6 in [[exportDataset]] — instead
    * of the eager anti-join job. A clinical-side tag column marks which
    * outer-join rows came from neo alone (its null count equals the
    * anti-join's row count); the tag is projected away before return,
    * the CollectMetrics node survives downstream projections.
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
    val afterStatus = SurvivalStatusCols.foldLeft(df) { (acc, c) =>
      if (acc.columns.contains(c))
        acc.withColumn(c, Fns.recodeSurvivalStatus(col(c), "0:LIVING", "1:DECEASED"))
      else acc
    }
    SurvivalMonthsCols.foldLeft(afterStatus) { (acc, c) =>
      if (acc.columns.contains(c)) acc.withColumn(c, Fns.daysToMonths(col(c))) else acc
    }
  }

  /** F2/F3 — mapping-driven case normalization: `Case == "CAPS"` → upper,
    * `"Title Case"` → initcap (reference `clinical.py:136-167`).
    */
  def normalizeCase(df: DataFrame, attrMapping: DataFrame): DataFrame = {
    val cases = attrMapping.select("NORMALIZED_HEADER", "Case").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    df.columns.foldLeft(df) { (acc, name) =>
      cases.get(name) match {
        case Some("CAPS") => acc.withColumn(name, Fns.capsCase(Fns.qcol(name)))
        case Some("Title Case") => acc.withColumn(name, Fns.titleCase(Fns.qcol(name)))
        case _ => acc
      }
    }
  }

  /** The full preprocessing chain (reference `clinical.py:290-362`):
    * J1 → F4 → J3/V16 → P7 → P1 → F5/F6 → F1 → F2/F3, one lazy plan.
    */
  def preprocess(clinical: DataFrame, oncotree: DataFrame, neo: DataFrame,
                 attrMapping: DataFrame): (DataFrame, Long) = {
    val (merged, neoOnly) =
      mergeNeoantigen(remapToPaperIds(joinOncotree(clinical, oncotree)), neo)
    val out = normalizeCase(
      Fns.stripSuffixesFromStringColumns(
        transformSurvival(
          filterNonAnalysisSamples(
            renameToNormalizedHeaders(merged, attrMapping)))),
      attrMapping)
    (out, neoOnly)
  }

  /** [[preprocess]] with V16 deferred: the neo-only count is an observe
    * metric collected by whatever action first materializes the chain
    * (in [[graft.pipelines.StudyRunner]], the export write itself) — no
    * eager anti-join job on the driver's critical path.
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

  /** J2 + V14/V15 — optional lens join: mapping key cast-normalized to
    * string; returns frame + null-display-name count (0 = pass)
    * (reference `clinical.py:199-262`).
    */
  def addLensDisplayName(df: DataFrame, lens: DataFrame): (DataFrame, Long) = {
    val mapping = broadcast(lens
      .select(col("study_sample_name").cast(StringType).as("SAMPLE_ID"),
        col("lens_id").as("SAMPLE_DISPLAY_NAME")))
    val joined = df.join(mapping, Seq("SAMPLE_ID"), "left")
    val nulls = joined.filter(col("SAMPLE_DISPLAY_NAME").isNull).count()
    (joined, nulls)
  }

  /** [[addLensDisplayName]], observed form: the V15 null-display-name
    * count rides the joined frame's first materialization instead of a
    * separate `count()` job — the zero-extra-pass pattern of
    * [[exportDataset]]'s V2/V5/V6.
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
  def dropAllNaColumns(df: DataFrame): DataFrame = {
    val counts = df.select(
      df.columns.map(c => count(Fns.qcol(c)).as(c)).toIndexedSeq: _*).head()
    val keep = df.columns.zipWithIndex.collect {
      case (c, i) if counts.getLong(i) > 0 => c
    }
    df.select(keep.map(Fns.qcol).toIndexedSeq: _*)
  }

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

  /** attrMeta as a driver-side map: header facts per normalized column
    * (shared by the single-file and parted header paths so they cannot
    * diverge).
    */
  private def attrMetaMap(attrMeta: DataFrame): Map[String, (String, String, String, String)] =
    attrMeta
      .select("NORMALIZED_COLUMN_HEADER", "DISPLAY_NAME", "DESCRIPTION", "DATA_TYPE", "PRIORITY")
      .collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2), r.getString(3), r.getString(4)))
      .toMap

  /** The 4 `#`-prefixed cBioPortal metadata lines for a frame's columns,
    * from the attribute-metadata table (replaces the reference's
    * insert_clinical_metadata.py subprocess; `clinical.py:550-620`).
    * Missing attributes fall back to the column name / STRING / 1.
    */
  def cbioHeaderBlock(columns: Seq[String], attrMeta: DataFrame): Seq[String] = {
    val meta = attrMetaMap(attrMeta)
    def line(f: ((String, String, String, String)) => String, dflt: String => String) =
      "#" + columns.map(c => meta.get(c).map(f).getOrElse(dflt(c))).mkString("\t")
    Seq(
      line(_._1, identity),
      line(_._2, identity),
      line(_._3, _ => "STRING"),
      line(_._4, _ => "1"))
  }

  /** The attrMeta header facts as column metadata, so the distributed
    * cbio sink reproduces EXACTLY the 4-line header the single-file path
    * writes ([[cbioHeaderBlock]]): displayName / description / priority /
    * dataType all ride `StructField.metadata` — the sink's headerBlock
    * honors an explicit `dataType` over its Spark-type derivation, so a
    * STRING-declared attribute that was inferred numeric on read still
    * publishes STRING, and a NUMBER-declared string column keeps its
    * declaration WITHOUT a value-nulling cast (cell values serialize
    * identically to the single-file path).
    */
  def withCbioMetadata(df: DataFrame, attrMeta: DataFrame): DataFrame = {
    val meta = attrMetaMap(attrMeta)
    val cols = df.schema.fields.map { f =>
      meta.get(f.name) match {
        case Some((display, desc, dtype, prio)) =>
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .putString("displayName", Option(display).getOrElse(f.name))
            .putString("description", Option(desc).getOrElse(f.name))
            .putString("dataType", Option(dtype).getOrElse("STRING"))
            .putString("priority", Option(prio).getOrElse("1"))
            .build()
          col(f.name).as(f.name, mb)
        case None => col(f.name)
      }
    }
    df.select(cols.toIndexedSeq: _*)
  }

  /** The two clinical meta files every study package carries, written
    * next to their data files — ONE definition shared by StudyRunner and
    * ClinicalCli so the key-value contract cannot drift between the
    * lifecycle runner and the CLI (meta_clinical_{patient,sample}.txt,
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
    * P5 drop-all-NA → headered patient/sample TSVs + case lists. Returns
    * the V1–V7-style report rows for the dataset.
    *
    * `partedSink = true` is the 100×-scale mode: the clinical outputs are
    * written as cbio dataset DIRECTORIES through the distributed DSv2
    * sink — one part per partition, each carrying the full header block,
    * no single-task `coalesce(1)` funnel — and read back identically by
    * `format("cbio")` / [[graft.sources.Tsv.read]]. The default keeps the
    * reference's single-file parity surface for small per-study outputs.
    */
  def exportDataset(patient: DataFrame, sample: DataFrame, dataset: String,
                    attrMeta: DataFrame, studyId: String, outDir: String,
                    partedSink: Boolean = false): Seq[(String, Long, Boolean)] = {
    val sampleDs = dropAllNaColumns(
      sample.filter(col("Dataset") === dataset).drop("Dataset"))
    val patientDs = dropAllNaColumns(
      patient.filter(col("Dataset") === dataset).drop("Dataset")).distinct()

    // V2/V5/V6 ride the export write itself (Rules.observed → df.observe):
    // the counters are computed by the SAME pass that serializes the
    // rows, where the reference re-scans once per rule
    // (`clinical.py:809-837`) — at 100 TB each separate validation
    // aggregate is another full pass.
    import graft.validation.Rules
    val exportRules = Seq(
      Rules.rowCount(dataset),
      Rules.Rule(s"no_null_sample_id_$dataset",
        sum(when(col("SAMPLE_ID").isNull, 1L).otherwise(0L))),
      Rules.Rule(s"no_null_patient_id_$dataset",
        sum(when(col("PATIENT_ID").isNull, 1L).otherwise(0L))))
    val (sampleObserved, obs) =
      Rules.observed(sampleDs, s"graft_v_$dataset", exportRules)

    if (partedSink) {
      withCbioMetadata(patientDs, attrMeta).write.format("cbio")
        .mode("overwrite").save(s"$outDir/data_clinical_patient.txt")
      withCbioMetadata(sampleObserved, attrMeta).write.format("cbio")
        .mode("overwrite").save(s"$outDir/data_clinical_sample.txt")
    } else {
      Tsv.writeTsvFile(patientDs, s"$outDir/data_clinical_patient.txt",
        cbioHeaderBlock(patientDs.columns.toSeq, attrMeta))
      Tsv.writeTsvFile(sampleObserved, s"$outDir/data_clinical_sample.txt",
        cbioHeaderBlock(sampleDs.columns.toSeq, attrMeta))
    }
    if (sampleDs.columns.contains("CANCER_TYPE"))
      Tsv.writeCaseLists(sampleDs, "CANCER_TYPE", "SAMPLE_ID", studyId, s"$outDir/case_lists")
    Tsv.writeMetaFile(s"$outDir/meta_study.txt", Seq(
      "type_of_cancer" -> "mixed",
      "cancer_study_identifier" -> studyId,
      "name" -> s"$studyId ($dataset)",
      "description" -> s"$studyId ($dataset)",
      "reference_genome" -> "hg38"))

    // the metrics were collected during the sample write — no re-scan
    Rules.observedRows(obs, exportRules)
  }

  /** The whole-study fan-out at scale: materialize the preprocessed
    * frames ONCE, Hive-partitioned by `Dataset`, then run each dataset's
    * export against the partitioned layout — every `Dataset === ds`
    * filter prunes to one directory instead of re-scanning the pan-study
    * table per iteration (the reference re-filters the full frame 23
    * times, `clinical.py:572-578` / `clinical.py:922-950`; at 100 TB
    * that's 23 full scans vs one write + 23 pruned reads).
    */
  def exportAllDatasets(patient: DataFrame, sample: DataFrame,
                        attrMeta: DataFrame, studyId: String,
                        outBase: String, scratchDir: String): Map[String, Seq[(String, Long, Boolean)]] = {
    val spark = sample.sparkSession
    Layout.writePartitioned(sample, s"$scratchDir/sample_by_ds", "Dataset")
    Layout.writePartitioned(patient, s"$scratchDir/patient_by_ds", "Dataset")
    val sampleP = spark.read.parquet(s"$scratchDir/sample_by_ds")
    val patientP = spark.read.parquet(s"$scratchDir/patient_by_ds")
    val datasets = sampleP.select("Dataset").distinct()
      .collect().map(_.getString(0)).sorted
    datasets.map { ds =>
      ds -> exportDataset(patientP, sampleP, ds, attrMeta,
        s"${studyId}_${ds.toLowerCase}", s"$outBase/$ds")
    }.toMap
  }
}

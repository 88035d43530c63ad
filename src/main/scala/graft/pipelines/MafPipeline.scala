package graft.pipelines

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.Fns
import graft.sources.Tsv
import graft.validation.Rules

/** The reference's MAF (mutation) pipeline (`maf.py main()`, SURVEY §3.2)
  * as a library. The reference's chunk → process-pool → docker annotator
  * dance exists only because its external tool caps input at ~55 MB
  * (`maf.py:49`); on Spark, partitions subsume chunks and annotation is a
  * join (J5) with an error side-channel — the executor/shuffle boundary
  * replaces `Pool.starmap`.
  */
object MafPipeline {

  /** The variant key the annotation source is keyed on (reference
    * `maf.py:104-130` — Genome Nexus annotates by genomic change).
    */
  val VariantKey: Seq[String] =
    Seq("Chromosome", "Start_Position", "End_Position", "Reference_Allele", "Tumor_Seq_Allele2")

  /** By-name merge of TSV files (pandas outer `concat`; reference
    * `maf.py:14-36`): missing columns are null-filled.
    *
    * Not one glob: a multi-file CSV glob binds every file to the FIRST
    * file's header positionally, silently misaligning folders whose MAFs
    * carry different column sets. But per-file `inferSchema` reads pay
    * TWO driver-coordinated passes per file (~20k file opens for a
    * 10k-file folder) — so instead a HEADER CENSUS: read only the column
    * line of each file up front ([[Tsv.readHead]]), group
    * files by their exact ordered header, and run ONE distributed
    * inference+data scan per header GROUP. Positional binding within a
    * group is safe by construction; groups (typically 1-3 per study)
    * union by name with null fill. File opens for N files with g distinct
    * headers: N header sniffs + 2g distributed scans, vs 2N before.
    * Files with no header line (empty or all-comment) contribute no rows
    * and are skipped, like pandas' EmptyDataError path; None when nothing
    * readable remains.
    */
  private[pipelines] def mergeByHeader(spark: SparkSession,
                                       files: Seq[String]): Option[DataFrame] = {
    if (files.isEmpty) return None
    // a store entity resolves to a version directory, whose files share
    // one header: Tsv.readHead reads its first data file
    val withHeader = files.flatMap { f =>
      Tsv.readHead(f).map(_.columns).filter(_.nonEmpty).map(h => (h, f))
    }
    if (withHeader.isEmpty) return None
    // first-appearance group order keeps the merge deterministic
    val order = withHeader.map(_._1).distinct
    val groups = withHeader.groupBy(_._1)
    Some(order.map(h => Tsv.readMany(spark, groups(h).map(_._2), comment = Some('#')))
      .reduce(_.unionByName(_, allowMissingColumns = true)))
  }

  /** The same merge over the Synapse store — the reference's actual
    * ingest (`maf.py:23-28`: `syn.getChildren(folder)` → keep `*.maf` →
    * `pd.read_csv(syn.get(id).path)` → concat). Children resolve to
    * their latest stored version; merge stays by-name with null fill.
    */
  def readAndMergeMafsFromStore(spark: SparkSession, storeRoot: String,
                                folderId: String): Option[DataFrame] = {
    val mafs = graft.sources.SynapseStore.getChildren(storeRoot, folderId)
      .filter(_._2.endsWith(".maf"))
    if (mafs.isEmpty) None
    else mergeByHeader(spark,
      mafs.map { case (id, _) => graft.sources.SynapseStore.get(storeRoot, id) })
  }

  /** J5 — annotation join with a failure channel: left join against the
    * annotation table on the variant key; matched rows get the annotation
    * columns and `Annotation_Status = SUCCESS`, unmatched become the error
    * report (reference `maf.py:95-130`'s per-chunk error MAFs). One pass,
    * two outputs.
    */
  def annotate(maf: DataFrame, annotations: DataFrame): (DataFrame, DataFrame) = {
    val annotated = maf.join(annotations, VariantKey, "left")
      .withColumn("Annotation_Status",
        when(col(annotations.columns.diff(VariantKey).head).isNotNull, "SUCCESS")
          .otherwise("FAILED"))
    val errors = annotated.filter(col("Annotation_Status") === "FAILED")
      .select((VariantKey :+ "Tumor_Sample_Barcode").map(col): _*)
    (annotated, errors)
  }

  /** J5 live mode — the same annotate contract served by a remote batch
    * service through [[LiveAnnotator]] (reference `maf.py:95-130`'s
    * Genome Nexus fan-out) instead of a pre-fetched annotation table.
    * Same two outputs as [[annotate]]: enriched rows with
    * `Annotation_Status`, and the FAILED rows as the error report.
    */
  def annotateLive(maf: DataFrame, annotationCols: Seq[String],
                   clientFactory: () => LiveAnnotator.Client,
                   batchSize: Int = 100): (DataFrame, DataFrame) = {
    val annotated = LiveAnnotator.annotateLive(
      maf, VariantKey, annotationCols, clientFactory, batchSize)
    val errors = annotated.filter(col("Annotation_Status") === "FAILED")
      .select((VariantKey :+ "Tumor_Sample_Barcode").map(col): _*)
    (annotated, errors)
  }

  /** F9 — consecutive fixed-size chunk assignment over a defined global
    * order (reference `split_into_chunks`, `maf.py:39-72`: ⌈n/max_rows⌉
    * chunks of up to `maxRows` consecutive rows). The global row number
    * comes from [[graft.operators.PrefixSum]] with weight 1 — a range
    * shuffle + per-partition counts + broadcast offsets — NOT a
    * partitionless `Window.orderBy` (which funnels the whole table
    * through one task and dies at 100 TB): chunk = ⌊(rank-1)/maxRows⌋.
    */
  def assignChunks(df: DataFrame, orderCol: String, maxRows: Int): DataFrame = {
    graft.operators.PrefixSum
      .withRunningSum(df.withColumn("__one", lit(1L)), orderCol, "__one", "__rn")
      .withColumn("chunk", floor((col("__rn") - lit(1L)) / maxRows).cast("long"))
      .drop("__one", "__rn")
  }

  /** P2 — postprocessing: drop chrM rows, null Chromosome SURVIVES
    * (pandas `!=` on NaN is True; reference `maf.py:181-195`).
    */
  def postprocess(maf: DataFrame): DataFrame =
    maf.filter(Fns.neqKeepNulls(col("Chromosome"), lit("chrM")))

  /** V8–V11 — the MAF validation report (reference `maf.py:219-269`):
    * row-count equality, no full-row dups, barcode distinct-set equality
    * (one-shuffle, both directions), allele-count NA checks (skipped when
    * the columns are absent, like the reference).
    */
  def validationReport(spark: SparkSession, input: DataFrame, output: DataFrame): DataFrame = {
    import spark.implicits._
    val inRows = input.count()
    val outRows = output.count()
    val dupRows = outRows - output.distinct().count()
    val (lost, gained) = Rules.setDifference(input, col("Tumor_Sample_Barcode"),
      output, col("Tumor_Sample_Barcode"))
    val barcodeDiff = lost + gained
    val alleleChecks =
      if (Seq("t_ref_count", "t_alt_count").forall(output.columns.contains)) {
        val nas = output.agg(
          sum(when(col("t_ref_count").isNull, 1L).otherwise(0L)),
          sum(when(col("t_alt_count").isNull, 1L).otherwise(0L))).head()
        Seq(("no_na_t_ref_count", nas.getLong(0), nas.getLong(0) == 0L),
          ("no_na_t_alt_count", nas.getLong(1), nas.getLong(1) == 0L))
      } else Seq.empty
    (Seq(
      ("row_count_delta", outRows - inRows, outRows == inRows),
      ("full_row_dups", dupRows, dupRows == 0L),
      ("barcode_set_diff", barcodeDiff, barcodeDiff == 0L)) ++ alleleChecks)
      .toDF("rule", "value", "passed")
  }

  /** V13 — exact column-set contract: report required columns missing
    * from the frame (driver-side set diff; reference `validate.py:159-172`).
    */
  def missingRequiredColumns(df: DataFrame, required: Seq[String]): Seq[String] =
    required.diff(df.columns.toSeq)

  /** K1 + K4 — write `data_mutations.txt` (%.12g floats) and its meta
    * file (reference `maf.py:168-216`).
    */
  def writeOutputs(maf: DataFrame, studyId: String, outDir: String): Unit = {
    Tsv.writeTsvFile(maf, s"$outDir/data_mutations.txt")
    Tsv.writeMetaFile(s"$outDir/meta_mutations.txt", Seq(
      "cancer_study_identifier" -> studyId,
      "genetic_alteration_type" -> "MUTATION_EXTENDED",
      "datatype" -> "MAF",
      "stable_id" -> "mutations",
      "data_filename" -> "data_mutations.txt"))
  }
}

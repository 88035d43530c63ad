package graft.pipelines

import java.nio.file.{Files, Paths}

import scala.concurrent.Future

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Schemas
import graft.sources.Tsv
import graft.validation.{Async, PortalRules}

/** The reference's cross-file validation entry point (`validate.py main()`,
  * SURVEY §3.3): load the study's outputs (S6), check presence (V1),
  * the MAF column contract (V13), barcode↔neoantigen consistency
  * (V12, from the MAF's barcode set, [[mafChecks]]) and the portal
  * validator's rule set (V18, the parts of [[graft.validation.PortalRules]]).
  */
object StudyValidator {

  /** S6 — the name → DataFrame map over the study's output files
    * (reference `validate.py:175-195`); absent files map to None.
    */
  def loadAllOutputs(spark: SparkSession, dir: String,
                     files: Seq[String] = Schemas.RequiredOutputFiles): Map[String, Option[DataFrame]] =
    files.map { f =>
      val p = Paths.get(dir, f)
      f -> (if (Files.exists(p))
        Some(Tsv.read(spark, p.toString, comment = Some('#')))
      else None)
    }.toMap

  /** V1 — required files missing from the output directory. */
  def missingFiles(dir: String,
                   required: Seq[String] = Schemas.RequiredOutputFiles): Seq[String] =
    required.filterNot(f => Files.exists(Paths.get(dir, f)))

  /** V13 — the MAF column contract against [[Schemas.RequiredMafCols]]. */
  def missingMafColumns(maf: DataFrame): Seq[String] =
    MafPipeline.missingRequiredColumns(maf, Schemas.RequiredMafCols)

  /** What the MAF alone decides: the V13 column contract and the V12
    * neoantigen rows (`rows`), the strict-MAF field rows (`fields`), and
    * the distinct barcodes `cases_sequenced` lists (`barcodes`).
    */
  final case class MafChecks(rows: Seq[(String, String, Boolean)],
                             fields: Seq[(String, Long, Boolean)],
                             barcodes: Set[String])

  /** [[MafChecks]] over a MAF as written. The distinct barcodes and the
    * neoantigen `Sample_ID`s, both as strings, are collected at key scale
    * alongside the field pass, one job each; V12 (reference
    * `validate.py:135-157`) compares the two sets on the driver, with
    * null counted as a key as [[graft.validation.Rules.setDifference]]
    * counts it. A MAF without a barcode column has no barcodes.
    */
  def mafChecks(spark: SparkSession, maf: DataFrame, neo: Option[DataFrame]): MafChecks = {
    val missingCols = missingMafColumns(maf)
    val colRule = ("maf_column_contract", missingCols.mkString(","), missingCols.isEmpty)
    val barcodes = Async(spark)(
      if (maf.columns.contains("Tumor_Sample_Barcode"))
        LoadPipeline.distinctStrings(maf, "Tumor_Sample_Barcode")
      else Set.empty[String])
    val neoSampleIds = Async(spark)(neo.map(LoadPipeline.distinctStrings(_, "Sample_ID")))
    val (ids, (neoIds, fields)) = Async.alongside(barcodes)(
      Async.alongside(neoSampleIds)(PortalRules.fieldRows(spark, maf)))
    val neoRows = neoIds.toSeq.flatMap { n =>
      val mafOnly = ids.diff(n).size.toLong
      val neoOnly = n.diff(ids).size.toLong
      Seq(("maf_not_in_neo", mafOnly.toString, mafOnly == 0L),
        ("neo_not_in_maf", neoOnly.toString, neoOnly == 0L))
    }
    MafChecks(colRule +: neoRows, fields, ids)
  }

  /** The full cross-file report: (rule, detail, passed). Each data file
    * is read once, as strings ([[Tsv.readWritten]]); the MAF's own checks
    * ([[mafChecks]]) run alongside the package's.
    */
  def report(spark: SparkSession, dir: String,
             neo: Option[DataFrame] = None): Seq[(String, String, Boolean)] = {
    val maf = Tsv.readWritten(spark, dir, PortalRules.MafFile)
    val checks = maf.map(m => Async(spark)(mafChecks(spark, m, neo)))
    val sample = Tsv.readWritten(spark, dir, PortalRules.SampleFile)
    val patient = Tsv.readWritten(spark, dir, PortalRules.PatientFile)
    val values = Async(spark)(PortalRules.valueRows(spark, dir, sample, patient))
    packageReport(spark, dir, sample, patient, maf, checks.map(Async.await), values)
  }

  /** The report over the package at `dir` from its data files read as
    * strings and the MAF's [[MafChecks]], in [[report]]'s row order:
    * `required_files`, the MAF's V13 and V12 rows, then V18 — the portal
    * validator's structural, field, census and clinical value rules
    * (reference `validate.py:198-226` runs the external validateData
    * subprocess here; PortalRules is its native twin). `values` is the
    * running [[PortalRules.valueRows]] pass; the census runs alongside it
    * while the structural layer reads the control files on this thread,
    * and `checks` is taken once they are running. The census and value
    * rules check the string frames themselves, so no file is scanned a
    * second time.
    */
  private[pipelines] def packageReport(spark: SparkSession, dir: String,
                                       sample: Option[DataFrame], patient: Option[DataFrame],
                                       maf: Option[DataFrame], checks: => Option[MafChecks],
                                       values: Future[Seq[(String, Long, Boolean)]])
      : Seq[(String, String, Boolean)] = {
    val missing = missingFiles(dir)
    val census = Async(spark)(PortalRules.censusRows(spark, dir, sample, patient, maf,
      PortalRules.caseListIds(spark, dir), sample))
    val structural = PortalRules.structuralReport(dir)
    val ofMaf = checks
    val portal = structural ++ ofMaf.toSeq.flatMap(_.fields) ++
      Async.await(census) ++ Async.await(values)
    (("required_files", missing.mkString(","), missing.isEmpty) +: ofMaf.toSeq.flatMap(_.rows)) ++
      portal.map { case (rule, v, ok) => (rule, v.toString, ok) }
  }
}

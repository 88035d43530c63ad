package graft.pipelines

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Schemas
import graft.sources.Tsv
import graft.validation.{Async, PortalRules}

/** The reference's cross-file validation entry point (`validate.py main()`,
  * SURVEY §3.3): load the study's outputs (S6), check presence (V1),
  * the MAF column contract (V13), barcode↔neoantigen consistency
  * (V12, via [[MafPipeline.barcodesMatchNeoantigen]]) and the portal
  * validator's rule set (V18, [[graft.validation.PortalRules.check]]).
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

  /** The full cross-file report: (rule, detail, passed). Each data file
    * the rules check is read (and schema-inferred) once, here; the
    * portal engine gets those frames, and the V12 neoantigen check runs
    * alongside it.
    */
  def report(spark: SparkSession, dir: String,
             neo: Option[DataFrame] = None): Seq[(String, String, Boolean)] = {
    val missing = missingFiles(dir)
    val outputs = loadAllOutputs(spark, dir, PortalRules.DataFiles)
    val maf = outputs(PortalRules.MafFile)
    val fileRule = ("required_files", missing.mkString(","), missing.isEmpty)
    val neoRules = for (m <- maf; n <- neo) yield Async(spark)(
      MafPipeline.barcodesMatchNeoantigen(spark, m, n).collect().toSeq
        .map(r => (r.getString(0), r.getLong(1).toString, r.getBoolean(2))))
    val colRules = maf.map { m =>
      val missingCols = missingMafColumns(m)
      ("maf_column_contract", missingCols.mkString(","), missingCols.isEmpty)
    }
    // V18 — the portal validator's structural + strict-MAF rule set over
    // the same package (reference `validate.py:198-226` runs the external
    // validateData subprocess here; PortalRules is its native twin)
    val portalRules = PortalRules.check(spark, dir,
      outputs(PortalRules.SampleFile), outputs(PortalRules.PatientFile), maf,
      PortalRules.caseListIds(spark, dir))
      .map { case (rule, v, ok) => (rule, v.toString, ok) }
    (fileRule +: colRules.toSeq) ++ neoRules.toSeq.flatMap(Async.await) ++ portalRules
  }
}

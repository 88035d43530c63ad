package graft.pipelines

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.Tsv

/** The reference's load step (`load.py`, SURVEY §3.3 footnote): the
  * `cases_all` / `cases_sequenced` case lists. The Synapse upload itself
  * is an out-of-scope connector (SURVEY §2.1 K6) — the parity surface is
  * the generated files.
  */
object LoadPipeline {

  /** J6 — `cases_sequenced` = clinical samples that appear among the MAF
    * barcodes: a left-semi join, never a collect of the fact side
    * (reference `load.py:12-35`, README case-list semantics).
    */
  def casesSequenced(sample: DataFrame, maf: DataFrame): DataFrame =
    sample.join(maf.select(col("Tumor_Sample_Barcode").as("SAMPLE_ID")).distinct(),
      Seq("SAMPLE_ID"), "left_semi")

  /** Generate both case lists from the sample + mutation frames; the
    * collected id lists are per-study small (the grouped result, not the
    * fact table).
    */
  def generateCaseLists(sample: DataFrame, maf: DataFrame, studyId: String,
                        outDir: String): Seq[Path] = {
    val all = sample.select(col("SAMPLE_ID").cast("string")).distinct()
      .orderBy("SAMPLE_ID").collect().map(_.getString(0)).toSeq
    val seq = casesSequenced(sample, maf).select(col("SAMPLE_ID").cast("string")).distinct()
      .orderBy("SAMPLE_ID").collect().map(_.getString(0)).toSeq
    def write(ids: Seq[String], suffix: String, name: String): Path =
      Tsv.writeCaseList(s"$outDir/cases_$suffix.txt", studyId, s"${studyId}_$suffix",
        name, s"$name ($studyId)", None, ids)
    Seq(write(all, "all", "All samples"), write(seq, "sequenced", "Sequenced samples"))
  }
}

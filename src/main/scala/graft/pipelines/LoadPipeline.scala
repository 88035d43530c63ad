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

  /** Both case lists from the sample + mutation frames in ONE query: the
    * distinct sample ids, left-joined to the distinct MAF barcodes (J6 —
    * `cases_sequenced` is the samples found among the barcodes, reference
    * `load.py:12-35`), sorted and collected once. Only the per-study id
    * list reaches the driver, never the fact side.
    */
  def generateCaseLists(sample: DataFrame, maf: DataFrame, studyId: String,
                        outDir: String): Seq[Path] = {
    val barcodes = maf.select(col("Tumor_Sample_Barcode").as("SAMPLE_ID")).distinct()
      .withColumn("sequenced", lit(true))
    val ids = sample.select("SAMPLE_ID").distinct()
      .join(barcodes, Seq("SAMPLE_ID"), "left")
      .select(col("SAMPLE_ID").cast("string").as("SAMPLE_ID"), col("sequenced").isNotNull)
      .orderBy("SAMPLE_ID").collect().toSeq
    def write(ids: Seq[String], suffix: String, name: String): Path =
      Tsv.writeCaseList(s"$outDir/cases_$suffix.txt", studyId, s"${studyId}_$suffix",
        name, s"$name ($studyId)", None, ids)
    Seq(write(ids.map(_.getString(0)), "all", "All samples"),
      write(ids.filter(_.getBoolean(1)).map(_.getString(0)), "sequenced", "Sequenced samples"))
  }
}

package graft.pipelines

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.Tsv

/** The reference's load step (`load.py`, SURVEY §3.3 footnote): the
  * `cases_all` / `cases_sequenced` case lists. The Synapse upload itself
  * is an out-of-scope connector (SURVEY §2.1 K6) — the parity surface is
  * the generated files.
  */
object LoadPipeline {

  /** Both case lists from the sample + mutation frames in two jobs:
    * [[sampleIds]] and the MAF's distinct barcodes ([[distinctStrings]]),
    * joined on the driver by [[writeCaseLists]] (J6 — `cases_sequenced`
    * is the samples found among the barcodes, reference
    * `load.py:12-35`). Only the per-study id list reaches the driver,
    * never the fact side.
    */
  def generateCaseLists(sample: DataFrame, maf: DataFrame, studyId: String,
                        outDir: String): Seq[Path] =
    writeCaseLists(sampleIds(sample), distinctStrings(maf, "Tumor_Sample_Barcode"), studyId,
      outDir)

  /** Every row's SAMPLE_ID in its string form (null stays null), in one
    * job.
    */
  def sampleIds(sample: DataFrame): Seq[String] =
    sample.select(col("SAMPLE_ID").cast("string")).collect().toSeq.map(_.getString(0))

  /** The distinct strings of column `c` of `df` (null kept as a key), in
    * one job: each partition sends its own distinct set, so a fact-sized
    * frame reaches the driver at key scale.
    */
  def distinctStrings(df: DataFrame, c: String): Set[String] =
    df.select(col(c).cast("string")).as(Encoders.STRING)
      .mapPartitions(_.toSet.iterator)(Encoders.STRING).collect().toSet

  /** Spark's string order — UTF-8 bytes, unsigned — with null first, as
    * an ascending `orderBy` sorts.
    */
  private val SparkStringOrder: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int =
      if (a == null || b == null) (a != null).compare(b != null)
      else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
  }

  /** `cases_all` (the distinct `ids`, a null id once) and
    * `cases_sequenced` (those among `barcodes`; never null), each sorted
    * in Spark's string order.
    */
  def writeCaseLists(ids: Seq[String], barcodes: Set[String], studyId: String,
                     outDir: String): Seq[Path] = {
    val all = ids.distinct.sorted(SparkStringOrder)
    def write(ids: Seq[String], suffix: String, name: String): Path =
      Tsv.writeCaseList(s"$outDir/cases_$suffix.txt", studyId, s"${studyId}_$suffix",
        name, s"$name ($studyId)", None, ids)
    Seq(write(all, "all", "All samples"),
      write(all.filter(id => id != null && barcodes(id)), "sequenced", "Sequenced samples"))
  }
}

package graft.pipelines

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase.spark

/** MAF pipeline semantics: merge, annotation join with error channel,
  * chrM filter null handling (reference `tests/test_maf.py` golden
  * behaviors), validation report, load-step case lists.
  */
class MafPipelineSpec extends AnyFunSuite {
  import spark.implicits._

  private def maf = Seq(
    ("chr1", 100L, 100L, "A", "T", "SAMP-1", Some(10L), Some(5L)),
    ("chr2", 200L, 200L, "C", "G", "SAMP-2", Some(8L), Some(2L)),
    (null, 300L, 300L, "G", "A", "SAMP-1", Some(7L), Some(3L)),
    ("chrM", 400L, 400L, "T", "C", "SAMP-2", Some(6L), Some(1L))
  ).toDF("Chromosome", "Start_Position", "End_Position", "Reference_Allele",
    "Tumor_Seq_Allele2", "Tumor_Sample_Barcode", "t_ref_count", "t_alt_count")

  private def annotations = Seq(
    ("chr1", 100L, 100L, "A", "T", "missense_variant", "TP53"),
    ("chr2", 200L, 200L, "C", "G", "stop_gained", "KRAS")
  ).toDF("Chromosome", "Start_Position", "End_Position", "Reference_Allele",
    "Tumor_Seq_Allele2", "Consequence", "Hugo_Symbol")

  test("assignChunks: boundary cases at max_rows±1 (reference tests/test_maf.py:51-84)") {
    // (n rows, max_rows) -> expected chunk sizes, in chunk order
    val cases = Seq(
      (4, 5)  -> Seq(4),        // n = max_rows - 1 → one short chunk
      (5, 5)  -> Seq(5),        // n = max_rows     → one full chunk
      (6, 5)  -> Seq(5, 1),     // n = max_rows + 1 → full + remainder 1
      (10, 5) -> Seq(5, 5),     // exact multiple
      (1, 5)  -> Seq(1))        // single row
    cases.foreach { case ((n, maxRows), expected) =>
      val df = (1 to n).toDF("id")
      val sizes = MafPipeline.assignChunks(df, "id", maxRows)
        .groupBy("chunk").count().orderBy("chunk")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(sizes.map(_._1).toSeq == expected.indices.map(_.toLong),
        s"n=$n max=$maxRows: chunk ids not consecutive: ${sizes.toSeq}")
      assert(sizes.map(_._2).toSeq == expected.map(_.toLong),
        s"n=$n max=$maxRows: sizes ${sizes.map(_._2).toSeq} != $expected")
      // chunks hold CONSECUTIVE rows in the global order
      val firstOfChunk1 = MafPipeline.assignChunks(df, "id", maxRows)
        .filter(col("chunk") === 1).agg(min("id")).collect().headOption
        .flatMap(r => Option(r.get(0)))
      if (expected.length > 1)
        assert(firstOfChunk1.contains(maxRows + 1))
    }
  }

  test("annotate: matched rows SUCCESS, unmatched form the error channel") {
    val (annotated, errors) = MafPipeline.annotate(maf, annotations)
    assert(annotated.filter(col("Annotation_Status") === "SUCCESS").count() == 2)
    assert(errors.count() == 2)
    assert(annotated.filter(col("Hugo_Symbol") === "TP53").count() == 1)
  }

  test("postprocess: chrM dropped, null Chromosome SURVIVES (P2 golden)") {
    val out = MafPipeline.postprocess(maf)
    assert(out.count() == 3)
    assert(out.filter(col("Chromosome").isNull).count() == 1)
  }

  test("validation report: V8-V11 shapes") {
    val out = MafPipeline.postprocess(maf)
    val report = MafPipeline.validationReport(spark, maf, out).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // row count drops by 1 (chrM) -> fails equality, delta -1
    assert(report("row_count_delta") == (-1L, false))
    assert(report("full_row_dups") == (0L, true))
    // barcodes survive on both sides -> sets equal
    assert(report("barcode_set_diff") == (0L, true))
    assert(report("no_na_t_ref_count") == (0L, true))
  }

  test("missing required columns (V13)") {
    assert(MafPipeline.missingRequiredColumns(maf,
      Seq("Chromosome", "Hugo_Symbol", "NCBI_Build")) == Seq("Hugo_Symbol", "NCBI_Build"))
  }

  /** V12's rows of [[StudyValidator.mafChecks]], as rule -> value. */
  private def v12(maf: org.apache.spark.sql.DataFrame,
                  neo: org.apache.spark.sql.DataFrame): Map[String, String] =
    StudyValidator.mafChecks(spark, maf, Some(neo)).rows
      .collect { case (r, v, _) if r.endsWith("_in_neo") || r.endsWith("_in_maf") => r -> v }
      .toMap

  test("V12: barcode/neoantigen equality is string-normalized both sides") {
    val neo = Seq(("SAMP-1"), ("SAMP-9")).toDF("Sample_ID")
    val rep = v12(maf, neo)
    assert(rep("maf_not_in_neo") == "1") // SAMP-2
    assert(rep("neo_not_in_maf") == "1") // SAMP-9
    // numeric neoantigen ids compare as strings
    val numeric = Seq(7L, 10L).toDF("Sample_ID")
    val mafNumeric = Seq("7", "10", "11").toDF("Tumor_Sample_Barcode")
    assert(v12(mafNumeric, numeric) == Map("maf_not_in_neo" -> "1", "neo_not_in_maf" -> "0"))
  }

  test("V12 counts distinct keys with null as a key, as Rules.setDifference does") {
    val mafNull = Seq[String]("A", "A", null, "B", null).toDF("Tumor_Sample_Barcode")
    val cases = Seq(
      Seq[String]("A", null, "C"),   // null on both sides: no difference from it
      Seq[String]("A", "B", "C", "C"), // null only in the MAF
      Seq[String](null))             // null only key of neo
    cases.foreach { ids =>
      val neo = ids.toDF("Sample_ID")
      val (mafOnly, neoOnly) = graft.validation.Rules.setDifference(
        mafNull, col("Tumor_Sample_Barcode").cast("string"), neo, col("Sample_ID").cast("string"))
      assert(v12(mafNull, neo) == Map("maf_not_in_neo" -> mafOnly.toString,
        "neo_not_in_maf" -> neoOnly.toString), ids.toString)
    }
    val checks = StudyValidator.mafChecks(spark, mafNull, Some(Seq("A").toDF("Sample_ID")))
    assert(checks.barcodes == Set("A", "B", null))
    assert(checks.rows.collect { case (r, v, ok) if r.endsWith("_in_maf") || r.endsWith("_in_neo") =>
      (r, v, ok) } == Seq(("maf_not_in_neo", "2", false), ("neo_not_in_maf", "0", true)))
  }

  test("mergeByHeader: by-name union of mixed-column files; header-less files skipped") {
    import org.apache.spark.sql.functions.col
    val tmp = Files.createTempDirectory("maf-merge").toString
    // two MAFs with DIFFERENT column sets and orders — pandas outer
    // concat aligns by name and null-fills (reference maf.py:35)
    Files.writeString(Paths.get(s"$tmp/a.maf"),
      "#version 1\nHugo_Symbol\tChromosome\tt_ref_count\nTP53\tchr17\t10\n")
    Files.writeString(Paths.get(s"$tmp/b.maf"),
      "#version 1\nChromosome\tHugo_Symbol\tExtra_Col\nchr12\tKRAS\tx\n")
    // same header as a.maf → one census group, one distributed scan for both
    Files.writeString(Paths.get(s"$tmp/c.maf"),
      "#version 1\nHugo_Symbol\tChromosome\tt_ref_count\nBRAF\tchr7\t4\n")
    // header-less files (empty / all-comment) contribute nothing, like
    // pandas' EmptyDataError path
    Files.writeString(Paths.get(s"$tmp/empty.maf"), "")
    Files.writeString(Paths.get(s"$tmp/comments.maf"), "#only\n#comments\n")
    val merged = MafPipeline.mergeByHeader(spark,
      Seq("a.maf", "b.maf", "c.maf", "empty.maf", "comments.maf").map(f => s"$tmp/$f")).get
    assert(merged.count() == 3)
    assert(merged.filter(col("Hugo_Symbol") === "BRAF").count() == 1)
    val byGene = merged.collect().map(r =>
      r.getAs[String]("Hugo_Symbol") ->
        (r.getAs[String]("Chromosome"), Option(r.getAs[Any]("t_ref_count")),
          Option(r.getAs[String]("Extra_Col")))).toMap
    assert(byGene("TP53")._1 == "chr17" && byGene("TP53")._2.isDefined
      && byGene("TP53")._3.isEmpty)
    assert(byGene("KRAS")._1 == "chr12" && byGene("KRAS")._2.isEmpty
      && byGene("KRAS")._3.contains("x"))
    // nothing readable → None (reference returns None and exits)
    assert(MafPipeline.mergeByHeader(spark,
      Seq("empty.maf", "comments.maf").map(f => s"$tmp/$f")).isEmpty)
    assert(merged.filter(col("Chromosome") === "chr17").count() == 1)
  }

  test("readAndMergeMafsFromStore: getChildren -> latest version -> by-name merge") {
    import spark.implicits._
    val root = Files.createTempDirectory("maf-store").toString
    val folder = "synMafFolder"
    // two .maf entities with different column sets; one has a superseded v1
    graft.sources.SynapseStore.store(
      Seq(("OLD", "chr0", 1.0)).toDF("Hugo_Symbol", "Chromosome", "t_ref_count"),
      root, "a.maf", folder, "v1 draft")
    graft.sources.SynapseStore.store(
      Seq(("TP53", "chr17", 10.0)).toDF("Hugo_Symbol", "Chromosome", "t_ref_count"),
      root, "a.maf", folder, "v2 final")
    val b = graft.sources.SynapseStore.store(
      Seq(("chr12", "KRAS", "x")).toDF("Chromosome", "Hugo_Symbol", "Extra_Col"),
      root, "b.maf", folder, "one-off")
    // an entity resolves to a version directory: the census reads the
    // columns of its first data file, past the sidecars
    assert(graft.sources.Tsv.readHead(graft.sources.SynapseStore.get(root, b))
      .map(_.columns).contains(Seq("Chromosome", "Hugo_Symbol", "Extra_Col")))
    // a non-.maf sibling must be excluded by the extension filter
    graft.sources.SynapseStore.store(
      Seq(("s1", "p1")).toDF("SAMPLE_ID", "PATIENT_ID"), root, "clin.txt", folder)
    val merged = MafPipeline.readAndMergeMafsFromStore(spark, root, folder).get
    assert(merged.count() == 2, "latest version only; non-maf excluded")
    val byGene = merged.collect().map(r =>
      r.getAs[String]("Hugo_Symbol") ->
        (r.getAs[String]("Chromosome"), Option(r.getAs[Any]("t_ref_count")),
          Option(r.getAs[String]("Extra_Col")))).toMap
    assert(!byGene.contains("OLD"), "superseded v1 content must not appear")
    assert(byGene("TP53")._1 == "chr17" && byGene("TP53")._2.contains(10.0)
      && byGene("TP53")._3.isEmpty)
    assert(byGene("KRAS")._1 == "chr12" && byGene("KRAS")._2.isEmpty
      && byGene("KRAS")._3.contains("x"))
    assert(MafPipeline.readAndMergeMafsFromStore(spark, root, "synNoSuchFolder").isEmpty)
  }

  test("full 118-col MAF contract: write, re-read, V13 passes; one missing col reported") {
    import org.apache.spark.sql.functions.{col, lit}
    // widen the narrow fixture to the full contract: every missing
    // required column null-filled (pandas outer-concat shape, U1)
    val full = graft.Schemas.RequiredMafCols.foldLeft(maf) { (acc, c) =>
      if (acc.columns.contains(c)) acc
      else acc.withColumn(c, lit(null).cast("string"))
    }
    assert(MafPipeline.missingRequiredColumns(full, graft.Schemas.RequiredMafCols).isEmpty)
    assert(full.columns.toSet.intersect(graft.Schemas.RequiredMafCols.toSet).size == 118)
    // TSV round-trip at full width preserves the contract
    val tmp = Files.createTempDirectory("maf-full").toString
    graft.sources.Tsv.writeTsvFile(full, s"$tmp/data_mutations.txt")
    val back = graft.sources.Tsv.read(spark, s"$tmp/data_mutations.txt")
    assert(MafPipeline.missingRequiredColumns(back, graft.Schemas.RequiredMafCols).isEmpty)
    assert(back.count() == full.count())
    // dropping one contract column is reported by name (V13)
    val narrowed = full.drop("Annotation_Status")
    assert(MafPipeline.missingRequiredColumns(narrowed, graft.Schemas.RequiredMafCols)
      == Seq("Annotation_Status"))
    assert(back.filter(col("Chromosome") === "chr1").count() == 1)
  }

  test("writeOutputs + load case lists end-to-end on disk") {
    val tmp = Files.createTempDirectory("maf-e2e").toString
    val out = MafPipeline.postprocess(maf)
    MafPipeline.writeOutputs(out, "iatlas_test", tmp)
    val lines = Files.readAllLines(Paths.get(s"$tmp/data_mutations.txt"))
    assert(lines.get(0).split("\t").head == "Chromosome")
    assert(lines.size() == 4) // header + 3 surviving rows

    val sample = Seq("SAMP-1", "SAMP-2", "SAMP-3").toDF("SAMPLE_ID")
    val paths = LoadPipeline.generateCaseLists(sample, out, "iatlas_test", tmp)
    val sequenced = Files.readString(paths(1))
    assert(sequenced.contains("case_list_ids: SAMP-1\tSAMP-2"))
    val all = Files.readString(paths(0))
    assert(all.contains("SAMP-3"))
  }

  test("StudyValidator: S6 load map, V1 missing files, V13 column contract") {
    val tmp = Files.createTempDirectory("validate-e2e").toString
    MafPipeline.writeOutputs(MafPipeline.postprocess(maf), "iatlas_test", tmp)

    val missing = StudyValidator.missingFiles(tmp)
    assert(!missing.contains("data_mutations.txt") && missing.contains("data_clinical_sample.txt"))

    val outputs = StudyValidator.loadAllOutputs(spark, tmp)
    val mutations = outputs("data_mutations.txt").get
    assert(mutations.count() == 3)
    assert(outputs("data_rna_seq_mrna.txt").isEmpty)

    val report = StudyValidator.report(spark, tmp,
      neo = Some(Seq("SAMP-1", "SAMP-2").toDF("Sample_ID")))
    val byRule = report.map(r => r._1 -> r).toMap
    assert(!byRule("required_files")._3)
    // our 8-column fixture misses most of the 118-column contract
    assert(!byRule("maf_column_contract")._3)
    assert(byRule("maf_not_in_neo")._3 && byRule("neo_not_in_maf")._3)
  }

  private def annMap = Map(
    "chr1|100|100|A|T" -> Seq("missense_variant", "TP53"),
    "chr2|200|200|C|G" -> Seq("stop_gained", "KRAS"))

  test("J5 live: batched enrichment ≡ the annotation join, transient failures retried") {
    import LiveAnnotatorFakes._
    reset(failures = 2) // first two batch calls throw; retries absorb them
    val lookup = annMap // local val: the lambda must not capture the spec instance
    val (live, liveErrors) = MafPipeline.annotateLive(
      maf, Seq("Consequence", "Hugo_Symbol"),
      () => FlakyClient(lookup), batchSize = 2)
    val cols = maf.columns ++ Seq("Consequence", "Hugo_Symbol", "Annotation_Status")
    val liveRows = live.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    val (joined, joinErrors) = MafPipeline.annotate(maf, annotations)
    val joinRows = joined.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    assert(liveRows == joinRows, "live mode must be indistinguishable from the join form")
    assert(liveErrors.collect().map(_.toSeq).toSet ==
      joinErrors.collect().map(_.toSeq).toSet)
    assert(maxBatchSeen.get() <= 2, "requests must honor the batch size")
  }

  test("J5 live: a poisoned key quarantines ONE row via per-item fallback") {
    import LiveAnnotatorFakes._
    reset(failures = 0)
    val lookup = annMap // local val: the lambda must not capture the spec instance
    val (live, errors) = MafPipeline.annotateLive(
      maf.repartition(1), Seq("Consequence", "Hugo_Symbol"),
      () => PoisonClient(lookup, poison = "chr2|200|200|C|G"), batchSize = 10)
    val byBarcodeStatus = live.collect()
      .map(r => (r.getAs[String]("Tumor_Sample_Barcode"),
        r.getAs[Long]("Start_Position")) -> r.getAs[String]("Annotation_Status")).toMap
    // chr1 row annotated despite the poisoned batch-mate; poison row and
    // the two service-unknown rows all FAILED — and the task never died
    assert(byBarcodeStatus(("SAMP-1", 100L)) == "SUCCESS")
    assert(byBarcodeStatus(("SAMP-2", 200L)) == "FAILED")
    // before errors.count(): that re-executes the (lazy) plan and loads
    // a fresh client for the second run
    assert(clientLoads.get() == 1, "client must load once per partition")
    assert(errors.count() == 3)
  }
}

/** Shared state for the fake annotation services (local-mode tests run in
  * one JVM, so plain statics observe executor-thread activity).
  */
object LiveAnnotatorFakes {
  import java.util.concurrent.atomic.AtomicInteger
  val clientLoads = new AtomicInteger(0)
  val failuresRemaining = new AtomicInteger(0)
  val maxBatchSeen = new AtomicInteger(0)
  def reset(failures: Int): Unit = {
    clientLoads.set(0); failuresRemaining.set(failures); maxBatchSeen.set(0)
  }

  /** Succeeds once the injected transient failures are exhausted. */
  case class FlakyClient(lookup: Map[String, Seq[String]])
      extends LiveAnnotator.Client {
    clientLoads.incrementAndGet()
    override def annotateBatch(keys: Seq[String]): Seq[Option[Seq[String]]] = {
      maxBatchSeen.getAndAccumulate(keys.length, math.max)
      if (failuresRemaining.getAndDecrement() > 0)
        throw new RuntimeException("injected transient service failure")
      keys.map(lookup.get)
    }
  }

  /** Always throws when the batch contains the poisoned key. */
  case class PoisonClient(lookup: Map[String, Seq[String]], poison: String)
      extends LiveAnnotator.Client {
    clientLoads.incrementAndGet()
    override def annotateBatch(keys: Seq[String]): Seq[Option[Seq[String]]] = {
      maxBatchSeen.getAndAccumulate(keys.length, math.max)
      if (keys.contains(poison))
        throw new RuntimeException("injected poisoned-key failure")
      keys.map(lookup.get)
    }
  }
}

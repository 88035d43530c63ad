package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

import graft.Schemas
import graft.pipelines._
import graft.sources.{SynapseStore, Tsv}

/** Study export: one operation, and one round, is one `StudyRunner.run`
  * over one dataset; successive rounds take the datasets in turn.
  */
final class StudyBench(spark: SparkSession, tracer: Tracer, work: Path, seed: Long,
                       datasets: Seq[StudyGen.Dataset]) extends Main.Workload {
  private var gen: StudyGen.Generated = _
  private var store: String = _
  private var inputs: Map[String, StudyRunner.StudyInputs] = _
  private var exports = 0
  /** Each dataset's written files → SHA-256, from its first export. */
  private val firstHashes = scala.collection.mutable.Map.empty[String, Map[String, String]]
  /** MAF files merged, rows written and rows annotated, summed over the
    * traced exports.
    */
  private var mafFiles, mafRows, annotatedRows = 0L

  /** The data types `StudyRunner` never writes; `required_files` must
    * name exactly these.
    */
  private val neverWritten = Set("data_gene_signatures.txt", "meta_gene_signatures.txt",
    "data_rna_seq_mrna.txt", "meta_rna_seq_mrna.txt")

  def prepareInputs(pass: Int): Unit = {
    val dir = work.resolve(s"pass$pass")
    gen = StudyGen.generate(seed, datasets, dir.resolve("staging"))
    store = dir.resolve("store").toString
    inputs = StudyGen.seed(gen, store)
  }

  /** One export of the first dataset, checked like any other; the
    * datasets share one shape, so it compiles every plan the others
    * run. The first round exports that dataset again, so every run
    * compares a re-export's bytes with the first export's.
    */
  def warmUp(): Unit = {
    val op = export(datasets.head.name, traced = false)
    op.error.foreach(e => throw new IllegalStateException(s"warm-up export failed: $e"))
  }

  private var rounds = 0
  def round(traced: Boolean): Seq[Op] = {
    rounds += 1
    Seq(export(datasets((rounds - 1) % datasets.size).name, traced))
  }

  private def export(ds: String, traced: Boolean): Op = {
    exports += 1
    val out = work.resolve(s"out/$exports").toString
    try {
      val t0 = System.nanoTime()
      val (validation, missing) =
        if (traced) tracedRun(inputs(ds), ds, out)
        else {
          val r = StudyRunner.run(spark, store, inputs(ds), dataset = ds,
            studyId = s"iatlas_$ds", outDir = out, outputFolderId = s"synOut_$ds",
            versionComment = s"export $exports")
          require(r.clinicalChecks.forall(_._3), s"clinical checks failed: ${r.clinicalChecks}")
          (r.validation, r.missingOutputs)
        }
      val secs = (System.nanoTime() - t0) / 1e9
      val hashes = hashTree(Paths.get(out))
      val counts = mafCounts(Paths.get(out, "data_mutations.txt"))
      if (traced) {
        mafFiles += SynapseStore.getChildren(store, inputs(ds).mafFolderId).count(_._2.endsWith(".maf"))
        mafRows += counts._1
        annotatedRows += counts._2
      }
      val fingerprint = hashes.toSeq.sorted.map { case (f, h) => s"$f=$h" }.mkString(" ")
      Op(ds, secs, Some(fingerprint), check(ds, validation, missing, counts, hashes))
    } catch {
      case scala.util.control.NonFatal(e) => Op(ds, 0.0, None, Some(e.toString))
    } finally deleteTree(Paths.get(out))
  }

  /** What a correct export satisfies for any seed: every validator rule
    * passes except `required_files`, which names only the data types
    * never written; the MAF has every generated row but chrM, with the
    * generated number annotated; and re-exporting a dataset gives the
    * same bytes as its first export in this run.
    */
  private def check(ds: String, validation: Seq[(String, String, Boolean)], missing: Seq[String],
                    mafRowsAndAnnotated: (Long, Long), hashes: Map[String, String]): Option[String] = {
    val problems = Seq.newBuilder[String]
    validation.foreach {
      case ("required_files", detail, _) =>
        if (detail.split(",").toSet != neverWritten) problems += s"required_files=$detail"
      case (rule, v, ok) => if (!ok) problems += s"$rule=$v"
    }
    if (missing.toSet != neverWritten) problems += s"missing outputs ${missing.mkString(",")}"
    val (rows, ok) = mafRowsAndAnnotated
    if (rows != gen.mafRowsKept(ds)) problems += s"maf rows $rows != ${gen.mafRowsKept(ds)}"
    if (ok != gen.annotatedRows(ds)) problems += s"annotated rows $ok != ${gen.annotatedRows(ds)}"
    firstHashes.get(ds) match {
      case Some(h) if h != hashes => problems += "output bytes differ from the first export"
      case None => firstHashes(ds) = hashes
      case _ =>
    }
    val p = problems.result()
    if (p.isEmpty) None else Some(p.mkString("; "))
  }

  /** Data rows and SUCCESS-annotated rows of the written MAF. */
  private def mafCounts(p: Path): (Long, Long) = {
    val lines = Files.readAllLines(p).asScala.filterNot(_.startsWith("#"))
    val status = lines.head.split("\t", -1).indexOf("Annotation_Status")
    val body = lines.tail
    (body.size.toLong, body.count(_.split("\t", -1)(status) == "SUCCESS").toLong)
  }

  /** `StudyRunner.run`'s body, stage by stage, each stage a span. The
    * golden and per-run checks hold it to the same bytes as the real
    * call.
    */
  private def tracedRun(in: StudyRunner.StudyInputs, ds: String, out: String)
      : (Seq[(String, String, Boolean)], Seq[String]) = tracer.span("export") {
    def fetch(id: String): DataFrame =
      spark.read.format("synapse").option("store", store).load(id)
    val studyId = s"iatlas_$ds"
    tracer.span("clinical") {
      val attrMapping = fetch(in.attrMappingId)
      val (pre, neoObs, neoRules) = ClinicalPipeline.preprocessObserved(
        fetch(in.clinicalId), fetch(in.oncotreeId), fetch(in.neoId), attrMapping)
      val enriched = pre.join(broadcast(fetch(in.oncotreeNamesId)), Seq("ONCOTREE_CODE"), "left")
      val (patient, sample) = ClinicalPipeline.splitPatientSample(enriched, attrMapping)
      val checks = ClinicalPipeline.exportDataset(patient, sample, ds, fetch(in.attrMetaId), studyId, out) ++
        graft.validation.Rules.observedRows(neoObs, neoRules)
      require(checks.forall(_._3), s"clinical checks failed: $checks")
      ClinicalPipeline.writeClinicalMetas(out, studyId)
    }
    val maf = tracer.span("maf_merge") {
      MafPipeline.readAndMergeMafsFromStore(spark, store, in.mafFolderId).get
    }
    tracer.span("maf_write") {
      val (annotated, _) = MafPipeline.annotate(maf, fetch(in.annotationsId))
      MafPipeline.writeOutputs(MafPipeline.postprocess(annotated), studyId, out)
    }
    tracer.span("case_lists") {
      val sampleOut = Tsv.read(spark, s"$out/data_clinical_sample.txt", comment = Some('#'))
      val mafOut = Tsv.read(spark, s"$out/data_mutations.txt", comment = Some('#'))
      LoadPipeline.generateCaseLists(sampleOut, mafOut, studyId, s"$out/case_lists")
    }
    val validation = tracer.span("validate") {
      StudyValidator.report(spark, out, neo = Some(fetch(in.neoId)))
    }
    val missing = tracer.span("store") {
      val caseLists = Option(Paths.get(out, "case_lists").toFile.listFiles())
        .map(_.toSeq.map(f => s"case_lists/${f.getName}")).getOrElse(Seq.empty)
      (Schemas.RequiredOutputFiles ++ caseLists).filter(f => Files.exists(Paths.get(out, f))).foreach { f =>
        val parent = if (f.startsWith("case_lists/")) s"synOut_$ds/case_lists" else s"synOut_$ds"
        SynapseStore.storeFile(store, Paths.get(out, f).toString, Paths.get(f).getFileName.toString,
          parent, s"export $exports")
      }
      Schemas.RequiredOutputFiles.filterNot(f => Files.exists(Paths.get(out, f)))
    }
    (validation, missing)
  }

  def layers(spans: Seq[Span], rounds: Int): Map[String, Double] = {
    val byName = spans.groupBy(_.name)
    val perStage = StudyBench.Stages.flatMap { st =>
      val ss = byName.getOrElse(st, Nil)
      val c = new Counts
      ss.foreach(s => c.add(s.self))
      Seq(s"$st.s" -> ss.map(_.seconds).sum / rounds,
        s"$st.jobs" -> c.jobs.toDouble / rounds, s"$st.stages" -> c.stages.toDouble / rounds,
        s"$st.tasks" -> c.tasks.toDouble / rounds, s"$st.cpu_s" -> c.cpuNs / 1e9 / rounds,
        s"$st.gc_s" -> c.gcMs / 1e3 / rounds, s"$st.input_mb" -> c.inputBytes / 1048576.0 / rounds,
        s"$st.shuffle_mb" -> c.shuffleBytes / 1048576.0 / rounds,
        s"$st.spill_mb" -> c.spillBytes / 1048576.0 / rounds)
    }.toMap
    perStage ++ Map(
      "maf_merge.files" -> mafFiles.toDouble / rounds,
      "maf_merge.ms_per_file" -> perStage("maf_merge.s") * 1e3 * rounds / mafFiles,
      "maf_write.rows_per_s" -> mafRows / (perStage("maf_write.s") * rounds),
      "annotate.success_ratio" -> annotatedRows.toDouble / mafRows)
  }

  private def hashTree(root: Path): Map[String, String] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Hashing.sha256(p)).toMap
    finally s.close()
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}

object StudyBench {
  /** `StudyRunner.run`'s stages, in its order. */
  val Stages: Seq[String] = Seq("clinical", "maf_merge", "maf_write", "case_lists", "validate", "store")

  /** Four datasets, one `.maf` file of 200 rows per sample, as iAtlas
    * stores them: per-job and per-file overheads dominate.
    */
  val Wide: Seq[StudyGen.Dataset] = (0 until 4).map(i => StudyGen.Dataset(f"DS$i%02d", 12, 200))
}

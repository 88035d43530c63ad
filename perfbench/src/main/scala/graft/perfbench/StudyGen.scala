package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable

import graft.Schemas
import graft.pipelines.StudyRunner.StudyInputs
import graft.sources.SynapseStore

/** Study inputs generated from a seed, shaped like iAtlas's: one
  * clinical table over all datasets, the oncotree, attribute-mapping
  * and attribute-metadata control tables, one neoantigen table and one
  * folder of per-sample `.maf` files per dataset, and a variant
  * annotation table that covers about 95% of the variant keys.
  *
  * Every input is first written as text under a staging directory
  * (cbio-format TSV: a `#` block declares NUMBER columns), so the same
  * seed gives byte-identical files; [[seed]] then stores the files
  * as-is into a Synapse-shaped store, the way iAtlas's inputs sit in
  * Synapse. The engine only ever sees the store.
  */
object StudyGen {

  final case class Dataset(name: String, samples: Int, rowsPerSample: Int)

  /** Columns the annotation table supplies; the MAF files carry the rest
    * of the required MAF columns. `Consequence` comes first: it is the
    * column whose presence marks a row as annotated.
    */
  val AnnotationCols: Seq[String] = Seq("Consequence", "Variant_Classification",
    "HGVSc", "HGVSp", "HGVSp_Short", "Transcript_ID", "IMPACT", "BIOTYPE")
  val MafFileCols: Seq[String] =
    Schemas.RequiredMafCols.filterNot(c => AnnotationCols.contains(c) || c == "Annotation_Status")

  private val Chromosomes = (1 to 22).map(_.toString) ++ Seq("X", "Y")
  private val Genes: IndexedSeq[(String, Long)] = (0 until 400).map(i => (f"GENE$i%03d", 1000L + i * 7))
  private val Cancers = Seq(
    ("SKCM", "Melanoma", "Cutaneous Melanoma"), ("LUAD", "Non-Small Cell Lung Cancer", "Lung Adenocarcinoma"),
    ("BLCA", "Bladder Cancer", "Bladder Urothelial Carcinoma"), ("KIRC", "Renal Cell Carcinoma", "Renal Clear Cell Carcinoma"),
    ("GBM", "Glioma", "Glioblastoma"), ("STAD", "Esophagogastric Cancer", "Stomach Adenocarcinoma"))
  private val Classes = Seq(
    ("missense_variant", "Missense_Mutation", "MODERATE"), ("stop_gained", "Nonsense_Mutation", "HIGH"),
    ("splice_acceptor_variant", "Splice_Site", "HIGH"))

  /** Generated inputs: the staging directory plus what the checks need
    * to know about it.
    */
  final case class Generated(staging: Path, datasets: Seq[Dataset],
                             samplesOf: Map[String, Seq[String]],
                             mafRowsKept: Map[String, Long],
                             annotatedRows: Map[String, Long])

  def generate(seed: Long, datasets: Seq[Dataset], staging: Path): Generated = {
    val rnd = new SplittableRandom(seed)
    val tables = Files.createDirectories(staging.resolve("tables"))
    val cancerOf = datasets.zipWithIndex.map { case (d, i) =>
      d.name -> Seq(Cancers(i % Cancers.size), Cancers((i + 2) % Cancers.size)) }.toMap

    // --- clinical: one row per sample, a tenth of patients with two samples
    val clinical = mutable.ArrayBuffer.empty[Seq[String]]
    val samplesOf = datasets.map { d =>
      val ids = mutable.ArrayBuffer.empty[String]
      var s = 0
      var p = 0
      while (s < d.samples) {
        val perPatient = if (rnd.nextInt(10) == 0 && s + 1 < d.samples) 2 else 1
        val patient = f"${d.name}-P$p%04d"
        val paperPatient = if (rnd.nextInt(4) == 0) "" else s"pt_$patient"
        val onco = cancerOf(d.name)(rnd.nextInt(2))
        val age = 30 + rnd.nextInt(50)
        val sex = if (rnd.nextBoolean()) "female" else "male"
        val os = rnd.nextInt(2)
        val osDays = fmtNum(rnd.nextDouble() * 3000)
        val pfs = rnd.nextInt(2)
        val pfsDays = fmtNum(rnd.nextDouble() * 2000)
        (0 until perPatient).foreach { k =>
          val sample = f"${d.name}-S$s%04d"
          val paperSample = if (paperPatient.isEmpty) "" else s"sm_$sample"
          val tissue = if (k == 0) "primary tumor" else "metastatic site"
          clinical += Seq(sample, patient, paperSample, paperPatient, d.name, onco._1,
            s"AM_${onco._1}", os.toString, osDays, pfs.toString, pfsDays, age.toString,
            sex, tissue, fmtNum(rnd.nextDouble() * 40))
          ids += (if (paperSample.isEmpty) sample else paperSample)
          s += 1
        }
        p += 1
      }
      d.name -> ids.toSeq
    }.toMap
    writeTable(tables.resolve("clinical.txt"),
      Seq("sample_name", "patient_name", "study_sample_name", "study_patient_name",
        "Dataset", "TCGA_Study", "AMADEUS_Study", "OS_STATUS", "OS_MONTHS",
        "PFS_STATUS", "PFS_MONTHS", "age_at_diagnosis", "SEX", "TISSUE_SOURCE", "TMB"),
      Set("OS_MONTHS", "PFS_MONTHS", "age_at_diagnosis", "TMB"), clinical.toSeq)

    writeTable(tables.resolve("oncotree_mapping.txt"),
      Seq("TCGA_Study", "AMADEUS_Study", "Dataset", "ONCOTREE_CODE"), Set.empty,
      datasets.flatMap(d => cancerOf(d.name).map(c => Seq(c._1, s"AM_${c._1}", d.name, c._1))))
    writeTable(tables.resolve("oncotree_names.txt"),
      Seq("ONCOTREE_CODE", "CANCER_TYPE", "CANCER_TYPE_DETAILED"), Set.empty,
      Cancers.map(c => Seq(c._1, c._2, c._3)))
    val attrs = Seq( // (iAtlas name, normalized, type, case, data type, display)
      ("OS_STATUS", "OS_STATUS", "PATIENT", "", "STRING", "Overall Survival Status"),
      ("OS_MONTHS", "OS_MONTHS", "PATIENT", "", "NUMBER", "Overall Survival (Months)"),
      ("PFS_STATUS", "PFS_STATUS", "PATIENT", "", "STRING", "Progression Free Status"),
      ("PFS_MONTHS", "PFS_MONTHS", "PATIENT", "", "NUMBER", "Progression Free (Months)"),
      ("age_at_diagnosis", "AGE", "PATIENT", "", "NUMBER", "Age at Diagnosis"),
      ("SEX", "SEX", "PATIENT", "CAPS", "STRING", "Sex"),
      ("TISSUE_SOURCE", "TISSUE_SOURCE", "SAMPLE", "Title Case", "STRING", "Tissue Source"),
      ("TMB", "TMB", "SAMPLE", "", "NUMBER", "Tumor Mutational Burden"),
      ("SNV", "SNV", "SAMPLE", "", "NUMBER", "Neoantigen SNV Count"))
    writeTable(tables.resolve("attr_mapping.txt"),
      Seq("iATLAS_attribute", "NORMALIZED_HEADER", "ATTRIBUTE_TYPE", "Case"), Set.empty,
      attrs.map(a => Seq(a._1, a._2, a._3, a._4)))
    writeTable(tables.resolve("attr_meta.txt"),
      Seq("NORMALIZED_COLUMN_HEADER", "DISPLAY_NAME", "DESCRIPTION", "DATA_TYPE", "PRIORITY"), Set.empty,
      attrs.map(a => Seq(a._2, a._6, s"${a._6} of the case", a._5, "1")) ++ Seq(
        Seq("CANCER_TYPE", "Cancer Type", "Cancer type", "STRING", "1"),
        Seq("CANCER_TYPE_DETAILED", "Cancer Type Detailed", "Cancer type detailed", "STRING", "1"),
        Seq("ONCOTREE_CODE", "Oncotree Code", "Oncotree code", "STRING", "1")))

    // --- MAF files and the annotation table
    val annotations = mutable.ArrayBuffer.empty[Seq[String]]
    val seenKeys = mutable.HashSet.empty[String]
    val hotspots = (0 until 64).map(_ => randomVariant(rnd))
    val mafRowsKept = mutable.Map.empty[String, Long]
    val annotatedRows = mutable.Map.empty[String, Long]
    val annotSeed = rnd.nextLong()
    def annotated(key: String): Boolean =
      java.lang.Math.floorMod(key.hashCode * 31L + annotSeed, 100L) < 95L
    datasets.foreach { d =>
      val dir = Files.createDirectories(staging.resolve("maf").resolve(d.name))
      var kept = 0L
      var ann = 0L
      samplesOf(d.name).foreach { sample =>
        val keys = mutable.HashSet.empty[String]
        val sb = new java.lang.StringBuilder(d.rowsPerSample * 700)
        sb.append("#version 2.4\n").append(MafFileCols.mkString("\t")).append('\n')
        var n = 0
        while (n < d.rowsPerSample) {
          val v =
            if (rnd.nextInt(200) == 0) Variant("chrM", 100 + rnd.nextInt(16000), "SNP", "A", "G")
            else if (rnd.nextInt(10) == 0) hotspots(rnd.nextInt(hotspots.size))
            else randomVariant(rnd)
          if (keys.add(v.key)) {
            sb.append(mafRow(v, sample, rnd)).append('\n')
            n += 1
            if (v.chrom != "chrM") {
              kept += 1
              if (annotated(v.key)) ann += 1
              if (annotated(v.key) && seenKeys.add(v.key)) annotations += annotationRow(v)
            }
          }
        }
        Files.write(dir.resolve(s"$sample.maf"), sb.toString.getBytes(UTF_8))
      }
      mafRowsKept(d.name) = kept
      annotatedRows(d.name) = ann
      writeTable(tables.resolve(s"neoantigen_${d.name}.txt"), Seq("SAMPLE_ID", "SNV"), Set("SNV"),
        samplesOf(d.name).map(s => Seq(s, (1 + rnd.nextInt(300)).toString)))
    }
    writeTable(tables.resolve("annotations.txt"),
      graft.pipelines.MafPipeline.VariantKey ++ AnnotationCols, Set("Start_Position", "End_Position"), annotations.toSeq)
    Generated(staging, datasets, samplesOf, mafRowsKept.toMap, annotatedRows.toMap)
  }

  private final case class Variant(chrom: String, start: Int, vtype: String, ref: String, alt: String) {
    def end: Int = vtype match {
      case "DNP" => start + 1
      case "DEL" => start + ref.length - 1
      case "INS" => start + 1
      case _     => start
    }
    def key: String = s"$chrom:$start:$end:$ref:$alt"
    def gene: (String, Long) = Genes(java.lang.Math.floorMod((chrom + start / 5000).hashCode, Genes.size))
  }

  private val Bases = "ACGT"
  private def base(rnd: SplittableRandom): Char = Bases.charAt(rnd.nextInt(4))
  private def otherBase(rnd: SplittableRandom, b: Char): Char = {
    val c = Bases.charAt(rnd.nextInt(3))
    if (c >= b) Bases.charAt(Bases.indexOf(c) + 1) else c
  }

  private def randomVariant(rnd: SplittableRandom): Variant = {
    val chrom = Chromosomes(rnd.nextInt(Chromosomes.size))
    val start = 10000 + rnd.nextInt(50000000)
    rnd.nextInt(20) match {
      case 0 => val r = s"${base(rnd)}${base(rnd)}"; Variant(chrom, start, "DEL", r, "-")
      case 1 => Variant(chrom, start, "INS", "-", s"${base(rnd)}${base(rnd)}")
      case 2 =>
        val r = s"${base(rnd)}${base(rnd)}"
        Variant(chrom, start, "DNP", r, s"${otherBase(rnd, r(0))}${otherBase(rnd, r(1))}")
      case _ => val r = base(rnd); Variant(chrom, start, "SNP", r.toString, otherBase(rnd, r).toString)
    }
  }

  private def mafRow(v: Variant, sample: String, rnd: SplittableRandom): String = {
    val (hugo, entrez) = v.gene
    val tRef = 10 + rnd.nextInt(200)
    val tAlt = 3 + rnd.nextInt(100)
    val nRef = 10 + rnd.nextInt(100)
    val af = tAlt.toDouble / (tRef + tAlt)
    val values = Map(
      "Hugo_Symbol" -> hugo, "Entrez_Gene_Id" -> entrez.toString, "Center" -> "iatlas",
      "NCBI_Build" -> "GRCh38", "Chromosome" -> v.chrom, "Start_Position" -> v.start.toString,
      "End_Position" -> v.end.toString, "Strand" -> "+", "Variant_Type" -> v.vtype,
      "Reference_Allele" -> v.ref, "Tumor_Seq_Allele1" -> v.ref, "Tumor_Seq_Allele2" -> v.alt,
      "dbSNP_RS" -> (if (rnd.nextInt(3) == 0) s"rs${rnd.nextInt(90000000)}" else "novel"),
      "Tumor_Sample_Barcode" -> sample, "Matched_Norm_Sample_Barcode" -> s"$sample-N",
      "Verification_Status" -> "Unknown", "Validation_Status" -> "Untested",
      "Mutation_Status" -> "Somatic", "Sequencer" -> "Illumina",
      "n_ref_count" -> nRef.toString, "n_alt_count" -> "0", "n_depth" -> nRef.toString,
      "t_ref_count" -> tRef.toString, "t_alt_count" -> tAlt.toString,
      "t_depth" -> (tRef + tAlt).toString, "AF" -> fmtNum(af), "gnomADe_AF" -> fmtNum(af / 1000),
      "FILTER" -> "PASS", "vcf_pos" -> v.start.toString, "vcf_qual" -> fmtNum(20 + rnd.nextDouble() * 80),
      "Allele" -> v.alt, "Gene" -> f"ENSG$entrez%011d", "SYMBOL" -> hugo, "STRAND_VEP" -> "1",
      "MHCflurry_2.1.1_affinity_nm" -> fmtNum(rnd.nextDouble() * 5000),
      "MHCflurry_2.1.1_presentation_score" -> fmtNum(rnd.nextDouble()))
    MafFileCols.map(c => values.getOrElse(c, "")).mkString("\t")
  }

  private def annotationRow(v: Variant): Seq[String] = {
    val (csq, cls, impact) = v.vtype match {
      case "DEL" => ("frameshift_variant", "Frame_Shift_Del", "HIGH")
      case "INS" => ("inframe_insertion", "In_Frame_Ins", "MODERATE")
      case _     => Classes(java.lang.Math.floorMod(v.key.hashCode, Classes.size))
    }
    val aa = 1 + java.lang.Math.floorMod(v.start, 900)
    Seq(v.chrom, v.start.toString, v.end.toString, v.ref, v.alt, csq, cls,
      s"c.${aa * 3}${v.ref}>${v.alt}", s"p.Ala${aa}Val", s"p.A${aa}V",
      s"ENST${java.lang.Math.floorMod(v.gene._2 * 13, 99999999L)}", impact, "protein_coding")
  }

  /** Numbers with more digits than `%.12g` keeps, so the sink's
    * formatting is exercised.
    */
  private def fmtNum(d: Double): String = java.lang.Double.toString(d)

  /** A cbio-format table: the four-line `#` block (display, description,
    * datatype, priority) declares which columns are NUMBER, then the
    * header row and the data rows.
    */
  private def writeTable(p: Path, cols: Seq[String], numeric: Set[String],
                         rows: Seq[Seq[String]]): Unit = {
    val sb = new java.lang.StringBuilder
    sb.append(cols.mkString("#", "\t", "\n"))
    sb.append(cols.mkString("#", "\t", "\n"))
    sb.append(cols.map(c => if (numeric(c)) "NUMBER" else "STRING").mkString("#", "\t", "\n"))
    sb.append(cols.map(_ => "1").mkString("#", "\t", "\n"))
    sb.append(cols.mkString("\t")).append('\n')
    rows.foreach(r => sb.append(r.mkString("\t")).append('\n'))
    Files.write(p, sb.toString.getBytes(UTF_8))
  }

  /** Stores the staged files into a Synapse-shaped store under `root`
    * and returns each dataset's study inputs.
    */
  def seed(g: Generated, root: String): Map[String, StudyInputs] = {
    val tables = g.staging.resolve("tables")
    def put(name: String, folder: String): String =
      SynapseStore.storeFile(root, tables.resolve(name).toString, name, folder, "generated input")
    val shared = Seq("clinical.txt", "oncotree_mapping.txt", "oncotree_names.txt",
      "attr_mapping.txt", "attr_meta.txt", "annotations.txt").map(n => n -> put(n, "synInputs")).toMap
    g.datasets.map { d =>
      val folder = s"synMaf_${d.name}"
      val mafDir = g.staging.resolve("maf").resolve(d.name)
      g.samplesOf(d.name).foreach { s =>
        SynapseStore.storeFile(root, mafDir.resolve(s"$s.maf").toString, s"$s.maf", folder, "generated input")
      }
      d.name -> StudyInputs(
        clinicalId = shared("clinical.txt"), oncotreeId = shared("oncotree_mapping.txt"),
        neoId = put(s"neoantigen_${d.name}.txt", "synInputs"),
        attrMappingId = shared("attr_mapping.txt"), attrMetaId = shared("attr_meta.txt"),
        oncotreeNamesId = shared("oncotree_names.txt"), mafFolderId = folder,
        annotationsId = shared("annotations.txt"))
    }.toMap
  }
}

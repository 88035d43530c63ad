package graft.validation

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.sources.Tsv

/** V18 — the data-level rule set of the external cBioPortal validator the
  * reference shells out to (`validateData.py --no_portal_checks
  * --strict_maf_checks`, invoked at reference
  * `src/iatlascbioportalexport/validate.py:198-226`), re-expressed
  * natively. The subprocess itself is out of scope (SURVEY §2.10 V18);
  * what it CHECKS over the study package is pure data validation and is
  * reproduced here in two layers:
  *
  *  - [[structuralReport]] — driver-side checks over the package's small
  *    control files (meta key-value files, case-list files) and the
  *    4+1-line clinical header block of each clinical part, read by
  *    [[graft.sources.Tsv.readHead]] without the file body. These are
  *    kilobytes by contract, so parsing them in one process is the right
  *    altitude.
  *  - the data rules, as distributed aggregates: [[mafFieldRules]], the
  *    strict-MAF field checks in ONE pass over the MAF; the clinical value
  *    rules, one pass per raw clinical file; and ONE key census
  *    ([[Rules.keyCensus]]) that scans each frame once and yields every
  *    id-set, key-uniqueness, gene and build rule from one group-by. This
  *    is the layer that must scale: the MAF is the fact table, and the
  *    census's partial aggregate collapses it to key scale before its
  *    one shuffle.
  *
  * [[check]] runs both layers over the `v18_portal_rules` fixture
  * ([[graft.queries.RefQueries.v18PortalRules]]). A written study
  * package ([[graft.pipelines.StudyValidator.report]]) is checked by the
  * same parts — [[structuralReport]], [[fieldRows]], [[censusRows]],
  * [[valueRows]] — over its files read once each as strings.
  */
object PortalRules {

  /** Valid chromosome names after normalization (the importer accepts a
    * `chr` prefix and strips it; `chrM`/`MT` are synonyms).
    */
  val ValidChromosomes: Set[String] =
    ((1 to 22).map(_.toString) ++ Seq("X", "Y", "MT")).toSet

  /** Allowed Mutation_Status values (strict MAF check). */
  val ValidMutationStatus: Set[String] = Set(
    "Somatic", "Germline", "LOH", "None", "Unknown", "Wildtype",
    "Post-transcriptional modification")

  /** Allele strings: bases, N, or `-` for indel placeholder. */
  val AllelePattern: String = "^[ACGTN-]+$"

  /** `c` matches [[AllelePattern]] — as a `translate` emptiness test
    * instead of `rlike`: the java.util.regex engine costs ~100 ns per
    * call and the allele rules evaluate it once per allele column per
    * MAF row (180M calls at sf10); `translate` is a codegen'd char-table
    * scan. NULL propagates like rlike's (callers coalesce).
    */
  private def alleleValid(c: Column): Column =
    length(c) > 0 && length(translate(c, "ACGTN-", "")) === 0

  /** Variant_Classification values the importer recognizes (the MAF
    * spec's controlled vocabulary; anything else draws validateData's
    * unknown-classification warning).
    */
  val ValidVariantClassifications: Set[String] = Set(
    "Frame_Shift_Del", "Frame_Shift_Ins", "In_Frame_Del", "In_Frame_Ins",
    "Missense_Mutation", "Nonsense_Mutation", "Silent", "Splice_Site",
    "Translation_Start_Site", "Nonstop_Mutation", "3'UTR", "3'Flank",
    "5'UTR", "5'Flank", "IGR", "Intron", "RNA", "Targeted_Region",
    "De_novo_Start_InFrame", "De_novo_Start_OutOfFrame", "Splice_Region",
    "Unknown")

  /** Classifications the importer SKIPS on load (validateData's
    * "mutation events that will not be loaded" warning tier): silent and
    * non-coding events are filtered by the default
    * variant_classification_filter, so a study dominated by them imports
    * near-empty — worth surfacing as a count, not a boolean.
    */
  val NotLoadedClassifications: Set[String] = Set(
    "Silent", "Intron", "3'UTR", "5'UTR", "3'Flank", "5'Flank", "IGR",
    "RNA")

  /** Classifications that change the protein product and therefore
    * should carry a protein-change annotation (validateData's missing
    * Amino_Acid_Change/HGVSp_Short warning fires only for these — a
    * Silent or intronic event legitimately has none).
    */
  val ProteinAffectingClassifications: Set[String] = Set(
    "Missense_Mutation", "Nonsense_Mutation", "Frame_Shift_Del",
    "Frame_Shift_Ins", "In_Frame_Del", "In_Frame_Ins", "Nonstop_Mutation",
    "Translation_Start_Site")

  /** Variant_Type controlled vocabulary. */
  val ValidVariantTypes: Set[String] = Set("SNP", "DNP", "TNP", "ONP",
    "INS", "DEL")

  /** Validation_Status controlled vocabulary. */
  val ValidValidationStatus: Set[String] = Set("Valid", "Invalid",
    "Untested", "Inconclusive", "Redacted", "Unknown")

  /** Verification_Status controlled vocabulary (strict MAF check). */
  val ValidVerificationStatus: Set[String] = Set("Verified", "Unknown", "NA")

  /** case_list_category values the importer recognizes. */
  val ValidCaseListCategories: Set[String] = Set(
    "all_cases_in_study", "all_cases_with_mutation_data",
    "all_cases_with_cna_data", "all_cases_with_log2_cna_data",
    "all_cases_with_methylation_data", "all_cases_with_mrna_array_data",
    "all_cases_with_mrna_rnaseq_data", "all_cases_with_rppa_data",
    "all_cases_with_microrna_data", "all_cases_with_mutation_and_cna_data",
    "all_cases_with_mutation_and_cna_and_mrna_data",
    "all_cases_with_gsva_data", "all_cases_with_sv_data", "other")

  /** Clinical attribute ids must be SHOUTY_SNAKE (validateData normalizes
    * and warns on anything else — a lowercase/spaced id silently renames
    * on import).
    */
  val AttrIdPattern: String = "^[A-Z][A-Z0-9_]*$"

  /** Datatype line values the clinical header block may carry. */
  val ValidHeaderDatatypes: Set[String] = Set("STRING", "NUMBER", "BOOLEAN")

  /** Keys every case-list file must define. */
  val CaseListRequiredKeys: Seq[String] = Seq(
    "cancer_study_identifier", "stable_id", "case_list_name",
    "case_list_description", "case_list_ids")

  /** Keys `meta_study.txt` must define (validateData's study-meta tier;
    * the reference writes exactly these plus citation/pmid placeholders,
    * `clinical.py:645-656`).
    */
  val MetaStudyRequiredKeys: Seq[String] = Seq(
    "cancer_study_identifier", "type_of_cancer", "name", "description")

  /** Keys a profile meta (one that declares a non-CLINICAL
    * `genetic_alteration_type`) must define for the importer to build the
    * genetic profile.
    */
  val ProfileMetaRequiredKeys: Seq[String] = Seq(
    "datatype", "stable_id", "data_filename")

  /** Profile `stable_id` values (or `_`-suffixes) the portal's importer
    * recognizes — an unknown suffix draws validateData's unrecognized-
    * stable-id warning and the profile won't surface in the UI tabs.
    */
  val KnownProfileStableIdSuffixes: Set[String] = Set(
    "mutations", "cna", "log2CNA", "gistic", "rna_seq_mrna",
    "rna_seq_v2_mrna", "mrna", "mrna_median_Zscores",
    "methylation_hm27", "methylation_hm450", "protein_quantification",
    "structural_variants", "sv", "fusion", "mirna", "rppa")

  /** Reference genomes the portal's importer ships support for — an
    * unknown build makes every genomic coordinate uninterpretable
    * (validateData's genome check; the reference pipeline always writes
    * hg38, `clinical.py:646-656`).
    */
  val KnownReferenceGenomes: Set[String] = Set(
    "hg19", "hg38", "GRCh37", "GRCh38", "mm10", "GRCm38")

  /** NCBI_Build values validateData accepts in a MAF (the genome-build
    * aliases the importer can map to a supported reference genome; an
    * unknown build draws its wrong-build error per row).
    */
  val KnownNcbiBuilds: Set[String] = Set(
    "36", "37", "38", "GRCh36", "GRCh37", "GRCh38",
    "hg18", "hg19", "hg38", "mm10", "GRCm38")

  /** Study identifiers the importer accepts: letters, digits and
    * underscores, starting with a letter — a spaced or punctuated id
    * breaks the portal's study-id addressing (validateData's study-id
    * format error). Mixed case is allowed: the reference pipeline
    * derives ids from dataset names like `Anders_JITC_2022`
    * (clinical.py) and runs them through the validator unrenamed.
    */
  val StudyIdPattern: String = "^[A-Za-z][A-Za-z0-9_]*$"

  /** Meta keys whose values must be the literal `true`/`false`
    * (validateData parses them as booleans and errors on anything else).
    */
  val BooleanMetaKeys: Seq[String] =
    Seq("show_profile_in_analysis_tab", "add_global_case_list")

  /** Keys validateData recognizes in `meta_*.txt` files (the union over
    * study/clinical/profile meta kinds); anything else draws its
    * "unrecognized field" warning.
    */
  val KnownMetaKeys: Set[String] = Set(
    "cancer_study_identifier", "genetic_alteration_type", "datatype",
    "data_filename", "stable_id", "profile_name", "profile_description",
    "show_profile_in_analysis_tab", "reference_genome_id", "type_of_cancer",
    "name", "description", "citation", "pmid", "groups", "short_name",
    "add_global_case_list", "swissprot_identifier",
    "variant_classification_filter", "namespaces", "reference_genome")

  /** `chr17`/`chrX`/`chrm` → `17`/`X`/`M T`-normalized form. */
  def normChromosome(c: Column): Column =
    when(upper(regexp_replace(c, "(?i)^chr", "")) === "M", lit("MT"))
      .otherwise(upper(regexp_replace(c, "(?i)^chr", "")))

  private def violation(cond: Column): Column =
    sum(when(cond, 1L).otherwise(0L))

  /** Null or empty in its written form: the cast keeps a column inferred
    * as a number (ids like `007`) from failing the `""` comparison under
    * ANSI.
    */
  private def blank(c: Column): Column = c.isNull || c.cast("string") === ""

  /** Non-null value OUTSIDE the vocabulary. NULL is exempt by design:
    * an empty cell is a presence concern (its own rules), not a
    * vocabulary one — and SQL's `x NOT IN (...)` (the oracle form)
    * yields NULL for NULL input, counting nothing, so engine and oracle
    * must agree in that direction or a blank Variant_Classification /
    * Strand cell would hash-mismatch the DuckDB oracle.
    */
  private def notInVocab(c: Column, vocab: Seq[String]): Column =
    coalesce(!c.isin(vocab: _*), lit(false))

  /** The MAF columns the field rules compare or add as numbers. */
  val NumericMafColumns: Set[String] = Set("Start_Position", "End_Position",
    "Entrez_Gene_Id", "t_ref_count", "t_alt_count", "t_depth", "n_ref_count", "n_alt_count")

  /** The strict-MAF field checks present in `maf`'s schema, as rules for
    * ONE aggregate pass (Rules.evaluate) — never one scan per rule.
    * Column subset is honored because pipeline-internal MAF frames carry
    * only the columns their study provides.
    *
    * A [[NumericMafColumns]] column read as text (`inferSchema=false`)
    * is compared as a number: the rules `try_cast` it to double, since
    * as text `'100' < '99'` holds and `End_Position - Start_Position`
    * does not analyze. A value that is not a number reads as null there,
    * like an empty cell: the rules that exempt null pass it, and
    * `maf_position_present` counts a non-numeric position as missing.
    * A column of any other type is used as it is, so a typed frame's
    * plan is unchanged.
    */
  def mafFieldRules(maf: DataFrame): Seq[Rules.Rule] = {
    val cols = maf.columns.toSet
    val textual = maf.schema.fields.collect {
      case f if f.dataType == StringType && NumericMafColumns(f.name) => f.name }.toSet
    // every rule below reads its columns through this `col`
    def col(c: String): Column =
      if (textual(c)) functions.col(c).try_cast(DoubleType) else functions.col(c)
    val b = Seq.newBuilder[Rules.Rule]
    if (cols("Chromosome"))
      b += Rules.Rule("maf_chromosome_valid",
        violation(notInVocab(
          normChromosome(col("Chromosome")), ValidChromosomes.toSeq)))
    if (cols("Start_Position") && cols("End_Position"))
      b += Rules.Rule("maf_extent_valid",
        violation(col("Start_Position") <= 0L ||
          col("End_Position") < col("Start_Position")))
    if (cols("Reference_Allele") && cols("Tumor_Seq_Allele2"))
      b += Rules.Rule("maf_allele_valid",
        violation(coalesce(!alleleValid(col("Reference_Allele")), lit(false)) ||
          coalesce(!alleleValid(col("Tumor_Seq_Allele2")), lit(false))))
    if (cols("Mutation_Status"))
      b += Rules.Rule("maf_mutation_status_valid",
        violation(notInVocab(col("Mutation_Status"), ValidMutationStatus.toSeq)))
    if (cols("Tumor_Sample_Barcode"))
      b += Rules.Rule("maf_barcode_present",
        violation(blank(col("Tumor_Sample_Barcode"))))
    if (cols("Variant_Classification"))
      b += Rules.Rule("maf_variant_classification_valid",
        violation(notInVocab(col("Variant_Classification"),
          ValidVariantClassifications.toSeq)))
    if (cols("Variant_Type"))
      b += Rules.Rule("maf_variant_type_valid",
        violation(notInVocab(col("Variant_Type"), ValidVariantTypes.toSeq)))
    if (cols("Variant_Type") && cols("Start_Position") && cols("End_Position"))
      // the extent a typed variant must span: SNP 1, DNP 2, TNP 3 bases
      // (INS/DEL extents are free-form beyond the generic extent rule)
      b += Rules.Rule("maf_extent_matches_type",
        violation(
          (col("Variant_Type") === "SNP" &&
            col("End_Position") =!= col("Start_Position")) ||
          (col("Variant_Type") === "DNP" &&
            col("End_Position") =!= col("Start_Position") + lit(1L)) ||
          (col("Variant_Type") === "TNP" &&
            col("End_Position") =!= col("Start_Position") + lit(2L))))
    if (cols("Reference_Allele") && cols("Tumor_Seq_Allele2"))
      // tumor allele identical to reference = no variant at all
      // (validateData's "allele identical" tier)
      b += Rules.Rule("maf_allele_not_identical",
        violation(col("Reference_Allele") === col("Tumor_Seq_Allele2")))
    if (cols("Validation_Status"))
      b += Rules.Rule("maf_validation_status_valid",
        violation(notInVocab(col("Validation_Status"),
          ValidValidationStatus.toSeq)))
    if (cols("Entrez_Gene_Id"))
      b += Rules.Rule("maf_entrez_nonneg",
        violation(col("Entrez_Gene_Id") < 0L))
    if (cols("Hugo_Symbol") && cols("Entrez_Gene_Id"))
      // a row must carry at least one usable gene identifier
      b += Rules.Rule("maf_gene_identifier_present",
        violation((col("Hugo_Symbol").isNull || col("Hugo_Symbol") === "") &&
          (col("Entrez_Gene_Id").isNull || col("Entrez_Gene_Id") <= 0L)))
    if (cols("Strand"))
      // the MAF spec mandates genes be reported on the forward strand
      b += Rules.Rule("maf_strand_valid",
        violation(coalesce(col("Strand") =!= "+", lit(false))))
    if (cols("Verification_Status"))
      b += Rules.Rule("maf_verification_status_valid",
        violation(notInVocab(col("Verification_Status"),
          ValidVerificationStatus.toSeq)))
    if (cols("Variant_Type") && cols("Reference_Allele") &&
        cols("Tumor_Seq_Allele2")) {
      // typed substitutions must carry alleles of exactly the typed width
      val w = when(col("Variant_Type") === "SNP", 1)
        .when(col("Variant_Type") === "DNP", 2)
        .when(col("Variant_Type") === "TNP", 3)
      b += Rules.Rule("maf_allele_len_matches_type",
        violation(w.isNotNull && (length(col("Reference_Allele")) =!= w ||
          length(col("Tumor_Seq_Allele2")) =!= w)))
      // an indel's alleles must change length in the typed direction (or
      // use the `-` placeholder on the absent side)
      b += Rules.Rule("maf_indel_allele_shape",
        violation(
          (col("Variant_Type") === "INS" &&
            !(col("Reference_Allele") === "-" ||
              length(col("Tumor_Seq_Allele2")) >
                length(col("Reference_Allele")))) ||
          (col("Variant_Type") === "DEL" &&
            !(col("Tumor_Seq_Allele2") === "-" ||
              length(col("Reference_Allele")) >
                length(col("Tumor_Seq_Allele2"))))))
    }
    if (cols("Variant_Type") && cols("Start_Position") &&
        cols("End_Position") && cols("Reference_Allele"))
      // a deletion's genomic extent must span exactly the deleted bases
      // (validateData's position-vs-allele-length tier)
      b += Rules.Rule("maf_del_span_matches_ref",
        violation(col("Variant_Type") === "DEL" &&
          col("Reference_Allele") =!= "-" &&
          col("End_Position") - col("Start_Position") + lit(1L) =!=
            length(col("Reference_Allele")).cast("long")))
    if (cols("t_ref_count") && cols("t_alt_count"))
      // sequencing read support must be non-negative on both alleles
      // (validateData's numeric-column sanity tier; nulls pass — the
      // columns are optional per-row in real MAFs)
      b += Rules.Rule("maf_allele_counts_valid",
        violation(coalesce(col("t_ref_count") < 0L, lit(false)) ||
          coalesce(col("t_alt_count") < 0L, lit(false))))
    // ---- tier 7: presence rules + validateData's warning long tail ----
    // The vocabulary/format rules above exempt NULL by design (a blank
    // cell is not a *vocabulary* violation), which means an ALL-blank
    // column would sail through them. Presence is therefore its own rule
    // tier — validateData's required-field errors.
    if (cols("Reference_Allele") && cols("Tumor_Seq_Allele2"))
      b += Rules.Rule("maf_allele_present",
        violation(blank(col("Reference_Allele")) ||
          blank(col("Tumor_Seq_Allele2"))))
    if (cols("Strand"))
      b += Rules.Rule("maf_strand_present", violation(blank(col("Strand"))))
    if (cols("Chromosome"))
      b += Rules.Rule("maf_chromosome_present",
        violation(blank(col("Chromosome"))))
    if (cols("Start_Position") && cols("End_Position"))
      b += Rules.Rule("maf_position_present",
        violation(col("Start_Position").isNull ||
          col("End_Position").isNull))
    if (cols("Tumor_Seq_Allele1"))
      // validateData checks BOTH tumor alleles against the base alphabet
      b += Rules.Rule("maf_tumor_allele1_valid",
        violation(coalesce(!alleleValid(col("Tumor_Seq_Allele1")),
          lit(false))))
    if (cols("t_depth") && cols("t_ref_count") && cols("t_alt_count"))
      // total depth must cover the ref+alt read support (validateData's
      // read-count consistency warning; nulls pass — optional columns)
      b += Rules.Rule("maf_read_support_consistent",
        violation(coalesce(
          col("t_depth") < col("t_ref_count") + col("t_alt_count"),
          lit(false))))
    // ---- tier 9: strict-MAF warning long tail ----
    if (cols("dbSNP_RS"))
      // dbSNP identifiers are `rs<digits>` or the literal `novel`;
      // blank/NULL means "not looked up" and is not a format violation
      b += Rules.Rule("maf_dbsnp_rs_format",
        violation(coalesce(col("dbSNP_RS") =!= "" &&
          !col("dbSNP_RS").rlike("^(rs[0-9]+|novel)$"), lit(false))))
    if (cols("SWISSPROT"))
      // UniProt name (`<ALNUM>_HUMAN`) or accession (`Q9XXX0`-shaped);
      // validateData warns per swissprot_identifier meta key semantics
      b += Rules.Rule("maf_swissprot_format",
        violation(coalesce(col("SWISSPROT") =!= "" &&
          !col("SWISSPROT").rlike(
            "^([A-Z0-9]+_HUMAN|[OPQ][0-9][A-Z0-9]{3}[0-9])$"), lit(false))))
    if (cols("HGVSp_Short"))
      // a non-blank protein change must be HGVS-p (`p.`-prefixed)
      b += Rules.Rule("maf_hgvsp_format",
        violation(coalesce(col("HGVSp_Short") =!= "" &&
          !col("HGVSp_Short").startsWith("p."), lit(false))))
    if (cols("HGVSp_Short") && cols("Variant_Classification"))
      // a protein-affecting event with no protein change recorded —
      // validateData's missing-amino-acid-change warning
      b += Rules.Rule("maf_hgvsp_present_nonsilent",
        violation(blank(col("HGVSp_Short")) &&
          coalesce(col("Variant_Classification").isin(
            ProteinAffectingClassifications.toSeq: _*), lit(false))))
    if (cols("Variant_Classification"))
      // events the importer's default classification filter drops
      b += Rules.Rule("maf_not_loaded_classification",
        violation(coalesce(col("Variant_Classification").isin(
          NotLoadedClassifications.toSeq: _*), lit(false))))
    if (cols("Chromosome"))
      // `chr`-prefixed names import (normalized) but draw the style
      // warning; [[normChromosome]] keeps them OUT of the validity rule
      b += Rules.Rule("maf_chromosome_no_prefix",
        violation(coalesce(col("Chromosome").rlike("(?i)^chr"),
          lit(false))))
    if (cols("Mutation_Status"))
      // germline/LOH calls are skipped by default import config —
      // validateData's germline-will-not-be-loaded warning
      b += Rules.Rule("maf_germline_reported",
        violation(coalesce(col("Mutation_Status").isin("Germline", "LOH"),
          lit(false))))
    if (cols("n_ref_count") && cols("n_alt_count"))
      // matched-normal read support non-negative (numeric sanity tier,
      // the normal-sample twin of maf_allele_counts_valid)
      b += Rules.Rule("maf_normal_counts_valid",
        violation(coalesce(col("n_ref_count") < 0L, lit(false)) ||
          coalesce(col("n_alt_count") < 0L, lit(false))))
    if (cols("Tumor_Sample_Barcode") && cols("Chromosome") &&
        cols("Start_Position") && cols("End_Position") &&
        cols("Tumor_Seq_Allele2"))
      // the same variant reported twice for one sample (validateData's
      // duplicate-mutation warning). The distinct key is the 128-bit
      // [[Rules.tupleHash128]] fingerprint of the 5-column variant tuple,
      // not the tuple itself: the MAF is the fact table and the key is
      // mostly unique, so partial aggregation cannot collapse it and the
      // distinct shuffle moves every row — 16-byte fingerprints instead
      // of wide structs cut that shuffle's bytes ~5× (the dominant cost
      // of the whole sf10 report). Null components group as equal and
      // null-position swaps stay distinct (the bitmap word), matching
      // SQL DISTINCT-tuple semantics; hash↔tuple agreement is
      // collision-audited in RulesSpec/PortalRulesSpec.
      b += Rules.Rule("maf_no_dup_variants",
        count(lit(1)) - countDistinct(Rules.tupleHash128(Seq(
          col("Tumor_Sample_Barcode"), col("Chromosome"),
          col("Start_Position"), col("End_Position"),
          col("Tumor_Seq_Allele2")))))
    // ---- tier 11: remaining strict-MAF nuances ----
    if (cols("NCBI_Build"))
      // the build must be one the importer can map to a supported
      // genome, row-by-row (the consistency rule above only checks the
      // MAF agrees with ITSELF — a uniformly wrong build passes it)
      b += Rules.Rule("maf_ncbi_build_known",
        violation(notInVocab(col("NCBI_Build").cast("string"),
          KnownNcbiBuilds.toSeq)))
    if (cols("Variant_Type") && cols("Start_Position") && cols("End_Position"))
      // an insertion's coordinates flank the inserted bases, so its
      // genomic extent is exactly 2 (End = Start + 1) — the INS twin of
      // the SNP/DNP/TNP extent rule and the DEL span rule
      b += Rules.Rule("maf_ins_span_valid",
        violation(col("Variant_Type") === "INS" &&
          col("End_Position") =!= col("Start_Position") + lit(1L)))
    if (cols("Variant_Type") && cols("Tumor_Seq_Allele1") &&
        cols("Reference_Allele") && cols("Tumor_Seq_Allele2"))
      // for a substitution, the first tumor allele reports the OTHER
      // chromosome copy and must equal the reference (het) or the
      // variant allele (hom) — validateData's Tumor_Seq_Allele1
      // consistency warning. NULLs pass (presence is its own tier);
      // note a NULL Reference_Allele nulls the whole conjunction, so
      // such rows pass here exactly as in the oracle's 3VL.
      b += Rules.Rule("maf_allele1_consistent",
        violation(col("Variant_Type").isin("SNP", "DNP", "TNP", "ONP") &&
          col("Tumor_Seq_Allele1") =!= col("Reference_Allele") &&
          col("Tumor_Seq_Allele1") =!= col("Tumor_Seq_Allele2")))
    b.result()
  }

  // ---------------------------------------------------------------------
  // Structural layer (driver-side; control files are small by contract)
  // ---------------------------------------------------------------------

  private def parseKeyValueFile(p: Path): Map[String, String] =
    Files.readAllLines(p).asScala
      .filter(_.contains(":"))
      .map { l => val i = l.indexOf(':'); l.take(i).trim -> l.drop(i + 1).trim }
      .toMap

  private def listFiles(dir: Path, prefix: String): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter(p =>
        p.getFileName.toString.startsWith(prefix) &&
          p.getFileName.toString.endsWith(".txt")).toSeq.sortBy(_.toString)
      finally s.close()
    }

  /** The package-shape checks validateData performs before touching row
    * data. Returns (rule, violationCount, passed) rows:
    *
    *  - `portal_meta_files_resolve` — every `meta_*.txt` parses and its
    *    `data_filename` (when present) names an existing file.
    *  - `portal_study_id_consistent` — exactly one
    *    `cancer_study_identifier` across metas + case lists.
    *  - `portal_data_files_have_meta` — every `data_*.txt` is referenced
    *    by some meta's `data_filename`.
    *  - `portal_clinical_header_block` — each `data_clinical_*.txt` opens
    *    with 4 `#` lines whose field counts equal the column line's,
    *    datatype line values in {STRING,NUMBER,BOOLEAN}, priority line
    *    integers.
    *  - `portal_case_list_fields` — each `cases_*.txt` under `case_lists/`
    *    defines the 5 required keys and its `stable_id` is prefixed by the
    *    study id.
    *  - `portal_clinical_no_dup_attrs` — no clinical file declares the
    *    same attribute column twice (validateData's duplicate-attribute
    *    error: a repeated PATIENT_ID/ATTR header silently shadows data).
    *  - `portal_case_list_stable_id_unique` — no two case lists share a
    *    `stable_id` (the importer keys lists by it; a collision
    *    overwrites one list).
    *  - `portal_meta_unknown_keys` — meta files carry only keys
    *    validateData recognizes ([[KnownMetaKeys]]) — its
    *    "unrecognized field" warning tier.
    *  - `portal_case_list_names_unique` — no two case lists share a
    *    `case_list_name` (colliding display names are indistinguishable
    *    in the portal UI).
    *  - `portal_meta_study_fields` — a present `meta_study.txt` defines
    *    every [[MetaStudyRequiredKeys]] key (its ABSENCE is V1's
    *    required-file-set rule, not this one — structural rules stay
    *    vacuous on an empty package).
    *  - `portal_meta_profile_fields` — each profile meta (non-CLINICAL
    *    `genetic_alteration_type`) defines [[ProfileMetaRequiredKeys]].
    *  - `clinical_required_id_columns` — `data_clinical_sample.txt`
    *    declares SAMPLE_ID and PATIENT_ID; `data_clinical_patient.txt`
    *    declares PATIENT_ID (validateData refuses the file outright
    *    without its id column).
    *  - `clinical_patient_no_sample_cols` — the patient file must not
    *    declare SAMPLE_ID (a sample-level attribute in the patient file
    *    is validateData's wrong-level error).
    */
  def structuralReport(dir: String): Seq[(String, Long, Boolean)] = {
    val root = Paths.get(dir)
    val metas = listFiles(root, "meta_").map(p => p -> parseKeyValueFile(p))
    val caseLists = listFiles(root.resolve("case_lists"), "cases_")
      .map(p => p -> parseKeyValueFile(p))

    val metaResolve = metas.count { case (_, kv) =>
      !kv.contains("cancer_study_identifier") ||
        kv.get("data_filename").exists(f => !Files.exists(root.resolve(f)))
    }.toLong

    val studyIds = (metas.map(_._2) ++ caseLists.map(_._2))
      .flatMap(_.get("cancer_study_identifier")).distinct
    val idConsistent = math.max(0L, studyIds.size.toLong - 1L)
    val studyId = studyIds.headOption.getOrElse("")

    val referenced = metas.flatMap(_._2.get("data_filename")).toSet
    val dataOrphans = listFiles(root, "data_")
      .count(p => !referenced(p.getFileName.toString)).toLong

    // ONE head read of each clinical part yields the header-block shape
    // check, the duplicate-attribute-column count, AND the
    // attribute-id-format count (each part of a parted dataset repeats
    // the header and is checked on its own)
    val clinicalHeaderStats = listFiles(root, "data_clinical_")
      .flatMap(p => Tsv.dataFiles(p.toString)).flatMap(Tsv.readHead(_)).map { head =>
        val cols = head.columns
        val rows = head.block.indices.map(head.blockRow)
        val headerBad =
          if (rows.size != 4) 1L
          else {
            val bad = rows.exists(_.length != cols.length) ||
              rows(2).exists(d => !ValidHeaderDatatypes(d)) ||
              rows(3).exists(pr => scala.util.Try(pr.trim.toInt).isFailure)
            if (bad) 1L else 0L
          }
        // display names (header row 1) must be unique too — two
        // attributes rendering under one label are indistinguishable in
        // the portal's clinical tables (validateData warns)
        val displayNames = head.blockRow(0)
        (headerBad, (cols.size - cols.distinct.size).toLong,
          cols.count(c => !c.matches(AttrIdPattern)).toLong,
          (displayNames.size - displayNames.distinct.size).toLong)
      }
    val headerViolations = clinicalHeaderStats.map(_._1).sum
    val dupAttrViolations = clinicalHeaderStats.map(_._2).sum
    val attrIdViolations = clinicalHeaderStats.map(_._3).sum
    val dupDisplayViolations = clinicalHeaderStats.map(_._4).sum

    val caseListViolations = caseLists.count { case (_, kv) =>
      CaseListRequiredKeys.exists(k => !kv.contains(k)) ||
        !kv.get("stable_id").exists(_.startsWith(studyId))
    }.toLong

    val stableIds = caseLists.flatMap(_._2.get("stable_id"))
    val stableIdCollisions = (stableIds.size - stableIds.distinct.size).toLong

    // display names must also be unique — two lists sharing a name are
    // indistinguishable in the portal UI (validateData warns)
    val listNames = caseLists.flatMap(_._2.get("case_list_name"))
    val nameCollisions = (listNames.size - listNames.distinct.size).toLong

    val unknownMetaKeys = metas
      .map(_._2.keysIterator.count(k => !KnownMetaKeys(k)).toLong).sum

    // case_list_ids content checks: the missing-key case already counts
    // under case_list_fields, so these fire only on a PRESENT key
    val listIds = caseLists.flatMap(_._2.get("case_list_ids"))
      .map(_.split("\t", -1).toSeq.map(_.trim).filter(_.nonEmpty))
    val emptyLists = listIds.count(_.isEmpty).toLong
    val dupListIds = listIds.map(ids => (ids.size - ids.distinct.size).toLong).sum

    val badCategories = caseLists.count(_._2.get("case_list_category")
      .exists(c => !ValidCaseListCategories(c))).toLong

    // study-meta required keys (checked only when the file exists — its
    // absence is the required-file-set rule V1, keeping this layer
    // vacuous over an empty package like every other structural rule)
    val metaStudyMissing = metas
      .find(_._1.getFileName.toString == "meta_study.txt")
      .map { case (_, kv) =>
        MetaStudyRequiredKeys.count(k => !kv.contains(k)).toLong }
      .getOrElse(0L)

    // profile metas: a non-CLINICAL genetic_alteration_type means the
    // importer will build a genetic profile and needs the full key set
    val profileMetas = metas.filter { case (_, kv) =>
      kv.get("genetic_alteration_type").exists(_ != "CLINICAL") }
    val profileMetaViolations = profileMetas.count { case (_, kv) =>
      ProfileMetaRequiredKeys.exists(k => !kv.contains(k))
    }.toLong

    // profile stable_id must be (or end with) a suffix the importer
    // recognizes — unknown ids draw validateData's warning and the
    // profile never surfaces in the portal tabs
    val badStableIdSuffix = profileMetas.count(_._2.get("stable_id").exists(
      sid => !KnownProfileStableIdSuffixes(sid) &&
        !KnownProfileStableIdSuffixes.exists(sfx => sid.endsWith("_" + sfx))))
      .toLong

    // id-column presence/level checks off the already-small header reads:
    // the sample file must declare SAMPLE_ID + PATIENT_ID, the patient
    // file PATIENT_ID — and the patient file must NOT carry SAMPLE_ID
    def headerCols(name: String): Option[Seq[String]] = {
      val p = root.resolve(name)
      if (!Files.exists(p)) None else Tsv.readHead(p.toString).map(_.columns)
    }
    val sampleCols = headerCols("data_clinical_sample.txt")
    val patientCols = headerCols("data_clinical_patient.txt")

    // a clinical meta's declared datatype must match the id LEVEL of the
    // file it references: SAMPLE_ATTRIBUTES data carries SAMPLE_ID,
    // PATIENT_ATTRIBUTES data carries PATIENT_ID (and never SAMPLE_ID) —
    // validateData's wrong-level error, generalized beyond the two
    // well-known filenames
    val datatypeLevelViolations = metas.count { case (_, kv) =>
      kv.get("genetic_alteration_type").contains("CLINICAL") &&
        kv.get("data_filename").exists { f =>
          headerCols(f).exists { cs =>
            kv.get("datatype") match {
              case Some("SAMPLE_ATTRIBUTES")  => !cs.contains("SAMPLE_ID")
              case Some("PATIENT_ATTRIBUTES") =>
                !cs.contains("PATIENT_ID") || cs.contains("SAMPLE_ID")
              case _ => false
            }
          }
        }
    }.toLong
    val missingIdCols =
      sampleCols.map(cs =>
        Seq("SAMPLE_ID", "PATIENT_ID").count(c => !cs.contains(c)).toLong)
        .getOrElse(0L) +
      patientCols.map(cs => if (cs.contains("PATIENT_ID")) 0L else 1L)
        .getOrElse(0L)
    val patientSampleCols = patientCols
      .map(cs => if (cs.contains("SAMPLE_ID")) 1L else 0L).getOrElse(0L)

    // tier 6: an attribute declared at BOTH levels is ambiguous — the
    // portal shows patient attrs on sample pages already, so a repeat
    // at sample level silently shadows it (validateData warns). Only
    // the PATIENT_ID link column legitimately appears in both headers.
    val levelOverlap = (for (sc <- sampleCols; pc <- patientCols)
      yield ((sc.toSet intersect pc.toSet) - "PATIENT_ID").size.toLong)
      .getOrElse(0L)

    // tier 6: boolean-typed meta keys must be literal true/false
    val badBoolMeta = metas.map { case (_, kv) =>
      BooleanMetaKeys.count(k =>
        kv.get(k).exists(v => v != "true" && v != "false")).toLong
    }.sum

    // tier 6: declared reference genome must be a build the importer
    // supports
    val badRefGenome = metas.map { case (_, kv) =>
      Seq("reference_genome", "reference_genome_id").count(k =>
        kv.get(k).exists(v => !KnownReferenceGenomes(v))).toLong
    }.sum

    // tier 8: a mutation profile REQUIRES a `<study>_sequenced` case
    // list (validateData errors without it — the portal cannot compute
    // mutation frequencies with no sequenced-cases denominator)
    val hasMutationProfile = metas.exists { case (_, kv) =>
      kv.get("genetic_alteration_type").contains("MUTATION_EXTENDED")
    }
    val missingSequencedList =
      if (hasMutationProfile &&
          !caseLists.exists(_._2.get("stable_id").exists(_.endsWith("_sequenced"))))
        1L
      else 0L

    // tier 10: the importer needs a GLOBAL `_all` case list — either a
    // written `<study>_all` list or meta_study's
    // `add_global_case_list: true` auto-generation flag (validateData's
    // missing-global-case-list error; the reference's V1 required-file
    // set includes cases_all.txt, clinical.py:64-70). Vacuous on a
    // package with no case lists at all.
    val metaStudyKv = metas
      .find(_._1.getFileName.toString == "meta_study.txt").map(_._2)
    val missingAllList =
      if (caseLists.nonEmpty &&
          !caseLists.exists(_._2.get("stable_id").exists(_.endsWith("_all"))) &&
          !metaStudyKv.exists(_.get("add_global_case_list").contains("true")))
        1L
      else 0L

    // tier 11: study id addressing format — lowercase alphanumerics and
    // underscores only (vacuous when no file declares an id; the
    // missing-key case counts under the required-key rules)
    val badStudyIdFormat =
      studyIds.count(id => !id.matches(StudyIdPattern)).toLong

    // tier 11: survival attributes are PATIENT-level by definition — a
    // `*_STATUS`/`*_MONTHS` column in the sample file never feeds the
    // portal's survival analysis (validateData's wrong-level warning
    // for known patient attributes)
    val survivalAttrPattern = "^(OS|DFS|PFS|DSS)_(STATUS|MONTHS)$"
    val survivalAtSampleLevel = sampleCols
      .map(_.count(_.matches(survivalAttrPattern)).toLong).getOrElse(0L)

    Seq(
      ("portal_meta_files_resolve", metaResolve, metaResolve == 0L),
      ("portal_study_id_consistent", idConsistent, idConsistent == 0L),
      ("portal_data_files_have_meta", dataOrphans, dataOrphans == 0L),
      ("portal_clinical_header_block", headerViolations, headerViolations == 0L),
      ("portal_case_list_fields", caseListViolations, caseListViolations == 0L),
      ("portal_clinical_no_dup_attrs", dupAttrViolations, dupAttrViolations == 0L),
      ("portal_case_list_stable_id_unique", stableIdCollisions, stableIdCollisions == 0L),
      ("portal_case_list_names_unique", nameCollisions, nameCollisions == 0L),
      ("portal_meta_unknown_keys", unknownMetaKeys, unknownMetaKeys == 0L),
      ("portal_attr_id_format", attrIdViolations, attrIdViolations == 0L),
      ("portal_case_list_ids_nonempty", emptyLists, emptyLists == 0L),
      ("portal_case_list_dup_ids", dupListIds, dupListIds == 0L),
      ("portal_case_list_category_known", badCategories, badCategories == 0L),
      ("portal_meta_study_fields", metaStudyMissing, metaStudyMissing == 0L),
      ("portal_meta_profile_fields", profileMetaViolations, profileMetaViolations == 0L),
      ("portal_profile_stable_id_suffix", badStableIdSuffix, badStableIdSuffix == 0L),
      ("portal_meta_datatype_level", datatypeLevelViolations, datatypeLevelViolations == 0L),
      ("clinical_required_id_columns", missingIdCols, missingIdCols == 0L),
      ("clinical_patient_no_sample_cols", patientSampleCols, patientSampleCols == 0L),
      ("clinical_dup_display_names", dupDisplayViolations, dupDisplayViolations == 0L),
      ("clinical_attr_no_level_overlap", levelOverlap, levelOverlap == 0L),
      ("portal_meta_boolean_values", badBoolMeta, badBoolMeta == 0L),
      ("portal_meta_reference_genome", badRefGenome, badRefGenome == 0L),
      ("portal_cases_sequenced_present", missingSequencedList, missingSequencedList == 0L),
      ("portal_cases_all_present", missingAllList, missingAllList == 0L),
      ("portal_study_id_format", badStudyIdFormat, badStudyIdFormat == 0L),
      ("clinical_survival_attrs_patient_level", survivalAtSampleLevel,
        survivalAtSampleLevel == 0L))
  }

  /** Numeric-literal shape a NUMBER-typed clinical value must match
    * (validateData accepts ints, decimals, scientific notation, and the
    * portal's `NA` missing marker).
    */
  val NumberValuePattern: String =
    "^(NA|-?[0-9]+(\\.[0-9]+)?([eE][-+]?[0-9]+)?)$"

  /** BOOLEAN-typed clinical values: TRUE/FALSE plus the NA marker. */
  val BooleanValuePattern: String = "^(NA|TRUE|FALSE)$"

  /** Survival-status clinical attributes (OS_STATUS and friends) follow
    * the portal's `<0|1>:<LABEL>` event-coding convention (e.g.
    * `0:LIVING`, `1:DECEASED`) or the NA marker; a bare label breaks the
    * portal's survival analysis.
    */
  val SurvivalStatusPattern: String = "^(NA|[01]:[A-Za-z_][A-Za-z_ ]*)$"

  /** Clinical attribute ids the survival-status format rule applies to. */
  val SurvivalStatusAttrPattern: String = "^(OS|DFS|PFS|DSS)_STATUS$"

  /** Clinical attribute ids the survival-months rules apply to. */
  val SurvivalMonthsAttrPattern: String = "^(OS|DFS|PFS|DSS)_MONTHS$"

  /** Alternate missing-value spellings validateData warns about — the
    * portal only recognizes `NA`, so `N/A`/`[Not Available]`/… silently
    * become real category values on import (tier 8).
    */
  val NaSpellings: Set[String] = Set(
    "N/A", "n/a", "NaN", "nan", "[Not Available]", "[Not Applicable]",
    "na", "n.a.", "NULL", "null", "?")

  /** Datatype/value-conformance checks for one clinical output, as ONE
    * distributed aggregate pass — the clinical table can be fact-sized:
    *
    *  - `number`     — columns the header block declares NUMBER must hold
    *    numeric-parseable values;
    *  - `boolean`    — BOOLEAN-declared columns must hold TRUE/FALSE/NA;
    *  - `survival`   — `*_STATUS` survival attributes must follow the
    *    `<0|1>:<LABEL>` event coding;
    *  - `months`     — `*_MONTHS` survival attributes must not be
    *    negative (a negative survival time breaks the portal's KM
    *    curves; tier 8);
    *  - `na_spelling` — values spelled as any [[NaSpellings]] variant
    *    should be the portal's `NA` marker (tier 8);
    *  - `whitespace` — leading/trailing whitespace in any value silently
    *    creates distinct category values on import (tier 8).
    *
    * Header parse is driver-side (4 lines); `raw` is the file's
    * raw-text scan, built only when a column needs a check. None when the file is absent or its header block is
    * malformed (the header rule already fires there).
    */
  private def clinicalValueViolations(p: Path,
                                      raw: => DataFrame): Option[Map[String, Long]] = {
    if (!Files.exists(p)) return None
    Tsv.readHead(p.toString).flatMap { head =>
      if (head.block.size != 4) None
      else {
        val cols = head.columns
        val datatypes = head.blockRow(2)
        def badValue(c: String, pattern: String): Column =
          when(col(c).isNotNull && col(c).cast("string") =!= "" &&
            !col(c).cast("string").rlike(pattern), 1L).otherwise(0L)
        val typed = cols.zip(datatypes)
        val patterns = Map("number" -> NumberValuePattern,
          "boolean" -> BooleanValuePattern,
          "survival" -> SurvivalStatusPattern)
        val colsPer: Map[String, Seq[String]] = Map(
          "number" -> typed.collect { case (c, "NUMBER") => c },
          "boolean" -> typed.collect { case (c, "BOOLEAN") => c },
          "survival" -> cols.filter(_.matches(SurvivalStatusAttrPattern)))
        val monthsCols = cols.filter(_.matches(SurvivalMonthsAttrPattern))
        // tier 11: (X_STATUS, X_MONTHS) pairs present in the SAME file —
        // a deceased event with no survival time is unplottable in the
        // portal's KM curves (validateData's missing-survival-months
        // warning fires only for deceased patients)
        val survivalPairs = cols.filter(_.matches(SurvivalStatusAttrPattern))
          .map(st => st -> st.replace("_STATUS", "_MONTHS"))
          .filter { case (_, mo) => cols.contains(mo) }
        val keys = Seq("number", "boolean", "survival",
          "months", "na_spelling", "whitespace", "deceased_months")
        if (colsPer.values.forall(_.isEmpty) && monthsCols.isEmpty && cols.isEmpty)
          Some(keys.map(_ -> 0L).toMap)
        else {
          val dfr = raw
          val present = dfr.columns.toSet
          // tier-8 value hygiene over EVERY column: alternate NA
          // spellings, and leading/trailing whitespace (both silently
          // become distinct attribute values on import)
          def naCond(c: String): Column =
            when(col(c).cast("string").isin(NaSpellings.toSeq: _*), 1L).otherwise(0L)
          def wsCond(c: String): Column =
            when(col(c).isNotNull &&
              col(c).cast("string") =!= trim(col(c).cast("string")), 1L).otherwise(0L)
          // tier-8 survival months: numeric-parseable AND negative
          def negMonths(c: String): Column =
            when(col(c).cast("string").rlike(NumberValuePattern) &&
              col(c).cast("string").startsWith("-"), 1L).otherwise(0L)
          // tier 11: deceased (`1:`-coded status) with the paired months
          // value missing — blank, the NA marker, or any alternate NA
          // spelling all mean "no survival time recorded"
          def deceasedMissing(st: String, mo: String): Column = {
            val m = col(mo).cast("string")
            when(col(st).cast("string").startsWith("1:") &&
              (col(mo).isNull || m === "" || m === "NA" ||
                m.isin(NaSpellings.toSeq: _*)), 1L).otherwise(0L)
          }
          val condsPer: Map[String, Seq[Column]] = Map(
            "number" -> colsPer("number").filter(present).map(badValue(_, patterns("number"))),
            "boolean" -> colsPer("boolean").filter(present).map(badValue(_, patterns("boolean"))),
            "survival" -> colsPer("survival").filter(present).map(badValue(_, patterns("survival"))),
            "months" -> monthsCols.filter(present).map(negMonths),
            "na_spelling" -> cols.filter(present).map(naCond),
            "whitespace" -> cols.filter(present).map(wsCond),
            "deceased_months" -> survivalPairs.toSeq
              .filter { case (st, mo) => present(st) && present(mo) }
              .map { case (st, mo) => deceasedMissing(st, mo) })
          val aggs = keys.map { k =>
            val conds = condsPer(k)
            if (conds.isEmpty) lit(0L)
            else coalesce(sum(conds.reduce(_ + _)), lit(0L))
          }
          val r = dfr.agg(aggs.head, aggs.tail: _*).head()
          Some(keys.zipWithIndex.map { case (k, i) => k -> r.getLong(i) }.toMap)
        }
      }
    }
  }

  // ---------------------------------------------------------------------
  // The rule engine (structural + data layers over a study package)
  // ---------------------------------------------------------------------

  /** The package's data files the data rules check. */
  val SampleFile = "data_clinical_sample.txt"
  val PatientFile = "data_clinical_patient.txt"
  val MafFile = "data_mutations.txt"
  val DataFiles: Seq[String] = Seq(SampleFile, PatientFile, MafFile)

  /** The `case_list_ids` of the package's case lists whose key-values
    * pass `keep`, empty tokens dropped (an empty `case_list_ids:` line
    * lists no id); None when no such list carries the key.
    */
  private def listedIds(dir: String)(keep: Map[String, String] => Boolean): Option[Seq[String]] = {
    val lines = listFiles(Paths.get(dir).resolve("case_lists"), "cases_")
      .map(parseKeyValueFile).filter(keep).flatMap(_.get("case_list_ids"))
    if (lines.isEmpty) None else Some(lines.flatMap(_.split("\t").filter(_.nonEmpty)))
  }

  /** Every case list's `case_list_ids` in the package at `dir` as one
    * `id` column in one partition (the containment input of [[check]]);
    * None when no list carries an id.
    */
  def caseListIds(spark: SparkSession, dir: String): Option[DataFrame] = {
    import spark.implicits._
    listedIds(dir)(_ => true).filter(_.nonEmpty).map(_.toDF("id").coalesce(1))
  }

  /** Everything `validateData --no_portal_checks --strict_maf_checks`
    * checks, as (rule, value, passed) rows. The engine takes the frames
    * it checks and the package directory:
    *
    *  - the id-set, key-uniqueness, strict-MAF field and gene rules check
    *    `sample`, `patient` and `maf`;
    *  - `case_list_ids_in_samples` checks the first column of
    *    `caseListIds` against `sample`'s SAMPLE_ID;
    *  - the structural and clinical-value rules read the package at
    *    `dir`, and so does the `cases_sequenced` contract: the package's
    *    sequenced list and raw (`inferSchema=false`) clinical sample file
    *    against `maf`.
    *
    * The rows are [[structuralReport]], then [[fieldRows]], [[censusRows]]
    * and [[valueRows]]: three concurrent passes ([[Async]]), fact-side
    * first, while the driver-side structural layer runs. Each clinical
    * file is scanned as raw text at most once, on first use, and shared
    * by the census and the value rules. A written package whose files
    * were already read as strings is checked from those frames by
    * [[graft.pipelines.StudyValidator.report]], from the same parts.
    */
  def check(spark: SparkSession, dir: String, sample: Option[DataFrame],
            patient: Option[DataFrame], maf: Option[DataFrame],
            caseListIds: Option[DataFrame]): Seq[(String, Long, Boolean)] = {
    // Values must be validated against their written form: inference
    // would re-render them — a clean BOOLEAN column holding only
    // TRUE/FALSE infers BooleanType, whose string cast is lowercase
    // "true"/"false", failing '^(NA|TRUE|FALSE)$' on every row of a
    // perfectly valid column.
    lazy val rawSample = Tsv.readWritten(spark, dir, SampleFile)
    lazy val rawPatient = Tsv.readWritten(spark, dir, PatientFile)
    val field = maf.map(m => Async(spark)(fieldRows(spark, m)))
    val census = Async(spark)(
      censusRows(spark, dir, sample, patient, maf, caseListIds, rawSample))
    val values = Async(spark)(valueRows(spark, dir, rawSample, rawPatient))
    val structural = structuralReport(dir)
    structural ++ (field.toSeq :+ census :+ values).flatMap(Async.await)
  }

  /** [[mafFieldRules]] over `maf` in one aggregate pass; no rows (and no
    * job) when `maf` has none of their columns.
    */
  def fieldRows(spark: SparkSession, maf: DataFrame): Seq[(String, Long, Boolean)] = {
    val rules = mafFieldRules(maf)
    if (rules.isEmpty) Seq.empty
    else Rules.evaluate(spark, maf, rules).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getBoolean(2)))
  }

  /** Every id-set, key-uniqueness, gene and build rule from ONE key
    * census ([[Rules.keyCensus]]) with one shuffle. The census scans each frame
    * once under four namespaces — sample ids `s`, patient ids `p` (so a
    * string that is both never matches across), Hugo symbols `g` valued
    * by their Entrez ids, and NCBI builds `b` — with every key compared
    * as a string. Containment rules ignore null keys; the dup rules are
    * rows − distinct non-null keys. A rule whose frame, file or column
    * is absent yields no row. `rawSample`, the sample file as written,
    * is read only when `maf` has barcodes (the `cases_sequenced`
    * contract).
    */
  def censusRows(spark: SparkSession, dir: String, sample: Option[DataFrame],
                 patient: Option[DataFrame], maf: Option[DataFrame],
                 caseListIds: Option[DataFrame],
                 rawSample: => Option[DataFrame]): Seq[(String, Long, Boolean)] = {
    import spark.implicits._
    import Rules.CensusKey
    def withCol(df: Option[DataFrame], c: String) = df.filter(_.columns.contains(c))
    val sampleIds = withCol(sample, "SAMPLE_ID")
    val samplePatients = withCol(sample, "PATIENT_ID")
    val patients = withCol(patient, "PATIENT_ID")
    val barcodes = withCol(maf, "Tumor_Sample_Barcode")
    // the sequenced contract: present when the MAF has barcodes and the
    // raw sample file has SAMPLE_ID; vacuous (0, 0) without a list
    val rawIds = barcodes.flatMap(_ => withCol(rawSample, "SAMPLE_ID"))
    val seqIds = rawIds.flatMap(_ =>
      listedIds(dir)(_.get("stable_id").exists(_.endsWith("_sequenced"))))
    def str(c: String) = col(c).cast("string")
    def keyed(df: Option[DataFrame], keys: (Seq[String], CensusKey)*) =
      df.map(d => d -> keys.collect { case (cs, k) if cs.forall(d.columns.contains) => k })
    val sources = Seq(
      keyed(sample, Seq("SAMPLE_ID") -> CensusKey("s", "sid", str("SAMPLE_ID")),
        Seq("PATIENT_ID") -> CensusKey("p", "spid", str("PATIENT_ID"))),
      keyed(patient, Seq("PATIENT_ID") -> CensusKey("p", "ppid", str("PATIENT_ID"))),
      keyed(maf,
        Seq("Tumor_Sample_Barcode") -> CensusKey("s", "maf", str("Tumor_Sample_Barcode")),
        // blank symbols and null ids are exempt from the gene rule
        Seq("Hugo_Symbol", "Entrez_Gene_Id") -> CensusKey("g", "gene",
          when(col("Hugo_Symbol") =!= "", str("Hugo_Symbol")), col("Entrez_Gene_Id")),
        Seq("NCBI_Build") -> CensusKey("b", "build", str("NCBI_Build"))),
      caseListIds.map(ids => ids -> Seq(CensusKey("s", "list", str(ids.columns.head)))),
      rawIds.filter(_ => seqIds.isDefined).map(_ -> Seq(CensusKey("s", "raw", str("SAMPLE_ID")))),
      // a driver-side list is one partition, not one slice per core
      seqIds.map(_.toDF("id").coalesce(1) -> Seq(CensusKey("s", "seq", col("id"))))
    ).flatten
    val tags = sources.flatMap(_._2.map(_.tag)).toSet
    def n(tag: String): Column = if (tags(tag)) col(tag) else lit(0L)
    def inNs(ns: String) = col("ns") === ns && col("key").isNotNull
    // distinct non-null keys of `ns` that meet `cond`
    def keys(ns: String, cond: Column) = sum(when(inNs(ns) && cond, 1L).otherwise(0L))
    // `tag`'s rows under the non-null keys of `ns` that meet `cond`
    def rows(ns: String, tag: String, cond: Column) =
      sum(when(inNs(ns) && cond, n(tag)).otherwise(0L))
    // every `tag` row (null keys too) − its distinct non-null keys
    def dups(ns: String, tag: String) =
      sum(when(col("ns") === ns, n(tag)).otherwise(0L)) - keys(ns, n(tag) > 0)
    val rules: Seq[(String, Column)] = Seq(
      for (_ <- barcodes; _ <- sampleIds)
        yield Seq("maf_barcode_in_samples" -> rows("s", "maf", n("sid") === 0)),
      for (_ <- caseListIds; _ <- sampleIds)
        yield Seq("case_list_ids_in_samples" -> keys("s", n("list") > 0 && n("sid") === 0)),
      // tier 8: a symbol mapping to more than one Entrez id
      maf.map(_ => Seq("maf_hugo_entrez_consistent" -> keys("g", col("lo") =!= col("hi")))),
      // clamped at 0: an empty MAF (or one whose builds are all null) is
      // vacuously consistent, not -1
      withCol(maf, "NCBI_Build").map(_ => Seq("maf_ncbi_build_consistent" ->
        greatest(keys("b", lit(true)) - lit(1L), lit(0L)))),
      // tier 8: the cases_sequenced list must agree with the MAF in both
      // directions (listed-but-unmutated, mutated-but-unlisted)
      rawIds.map(_ => Seq(
        "cases_sequenced_ids_have_mutations" -> keys("s", n("seq") > 0 && n("maf") === 0),
        "maf_barcodes_in_cases_sequenced" ->
          keys("s", n("maf") > 0 && n("raw") > 0 && n("seq") === 0))),
      for (_ <- samplePatients; _ <- patients)
        yield Seq("sample_patient_in_patients" -> rows("p", "spid", n("ppid") === 0)),
      sampleIds.map(_ => Seq("no_dup_sample_id" -> dups("s", "sid"))),
      // tier 6: the patient file's key must be unique too — a duplicated
      // PATIENT_ID row makes attribute values nondeterministic on import
      patients.map(_ => Seq("clinical_no_dup_patient_id" -> dups("p", "ppid"))),
      // tier 6: a patient with no sample never surfaces anywhere in the
      // portal — validateData's orphan-patient warning, the mirror of
      // the sample→patient containment
      for (_ <- samplePatients; _ <- patients)
        yield Seq("clinical_orphan_patients" -> keys("p", n("ppid") > 0 && n("spid") === 0))
    ).flatten.flatten
    if (rules.isEmpty) Seq.empty
    else rules.zip(Rules.censusCounts(sources, rules.map(_._2)))
      .map { case ((rule, _), v) => (rule, v, v == 0L) }
  }

  /** Datatype/value conformance over every clinical output that has a
    * well-formed header, one aggregate pass per file over its raw text
    * (`rawSample`, `rawPatient`, each read only when its file needs a
    * check), the two passes at once; no rows when neither file has such
    * a header.
    */
  def valueRows(spark: SparkSession, dir: String, rawSample: => Option[DataFrame],
                rawPatient: => Option[DataFrame]): Seq[(String, Long, Boolean)] = {
    val root = Paths.get(dir)
    val (sampleVs, patientVs) = Async.alongside(Async(spark)(
      clinicalValueViolations(root.resolve(SampleFile), rawSample.get)))(
      clinicalValueViolations(root.resolve(PatientFile), rawPatient.get))
    val vs = Seq(sampleVs, patientVs).flatten
    if (vs.isEmpty) Seq.empty
    else Seq("clinical_number_attrs_numeric" -> "number",
      "clinical_boolean_attrs_boolean" -> "boolean",
      "clinical_survival_status_format" -> "survival",
      "clinical_survival_months_nonneg" -> "months",
      "clinical_na_spellings" -> "na_spelling",
      "clinical_value_whitespace" -> "whitespace",
      "clinical_deceased_months_present" -> "deceased_months").map {
      case (rule, k) => val n = vs.map(_(k)).sum; (rule, n, n == 0L)
    }
  }

  /** DuckDB oracle for the `v18_portal_rules` query
    * ([[graft.queries.RefQueries.v18PortalRules]]): the data-level counts
    * recomputed over the same derived frames; the five structural rules
    * are constant-0 rows — a correctly written package has no violations,
    * so any sink/header regression shows up as a hash mismatch.
    */
  val fixtureOracle: String =
    """WITH samples AS (
      |  SELECT 'S' || CAST(c_custkey AS VARCHAR) AS sample_id,
      |         'P' || CAST(c_custkey % 1000 AS VARCHAR) AS patient_id
      |  FROM customer),
      |patients AS (
      |  SELECT DISTINCT 'P' || CAST(c_custkey % 1000 AS VARCHAR) AS patient_id
      |  FROM customer WHERE (c_custkey % 1000) % 97 <> 0),
      |maf AS (
      |  SELECT 'S' || CAST(l_orderkey % 2347 AS VARCHAR) AS barcode,
      |         (CASE WHEN l_partkey % 59 = 0 THEN 'chr' ELSE '' END) ||
      |         CASE l_partkey % 27 WHEN 23 THEN 'X' WHEN 24 THEN 'Y' WHEN 25 THEN 'MT'
      |           ELSE CAST(l_partkey % 27 AS VARCHAR) END AS chrom,
      |         l_orderkey AS start_pos,
      |         l_orderkey + l_linenumber - 3 AS end_pos,
      |         CASE WHEN l_suppkey % 23 = 5 THEN NULL
      |           WHEN l_suppkey % 5 = 0 THEN 'A' WHEN l_suppkey % 5 = 1 THEN 'C'
      |           WHEN l_suppkey % 5 = 2 THEN 'G' WHEN l_suppkey % 5 = 3 THEN 'T'
      |           ELSE 'R' END AS ref_allele,
      |         CASE l_suppkey % 4 WHEN 0 THEN 'A' WHEN 1 THEN 'C' WHEN 2 THEN 'G'
      |           ELSE 'T' END AS tum_allele,
      |         CASE WHEN l_partkey % 13 = 0 THEN '?'
      |           WHEN l_suppkey % 3 = 0 THEN 'A' WHEN l_suppkey % 3 = 1 THEN 'C'
      |           ELSE 'G' END AS tum_allele1,
      |         CASE l_returnflag WHEN 'R' THEN 'Somatic' WHEN 'A' THEN 'Germline'
      |           ELSE 'Unknowable' END AS status,
      |         CASE WHEN l_partkey % 7919 = 0 THEN 'hg17'
      |           ELSE 'GRCh38' END AS build,
      |         CASE WHEN l_partkey % 53 = 0 THEN 'Missense_Variant'
      |           WHEN l_partkey % 41 = 0 THEN 'Silent'
      |           ELSE 'Missense_Mutation' END AS vclass,
      |         CASE l_suppkey % 7 WHEN 0 THEN 'SNP' WHEN 1 THEN 'DNP'
      |           WHEN 2 THEN 'TNP' WHEN 3 THEN 'ONP' WHEN 4 THEN 'INS'
      |           WHEN 5 THEN 'DEL' ELSE 'SNV' END AS vtype,
      |         CASE l_returnflag WHEN 'N' THEN 'Untested' WHEN 'R' THEN 'Valid'
      |           ELSE 'Wrong_Status' END AS vstatus,
      |         CASE WHEN l_partkey % 1999 = 0 THEN -7
      |           WHEN l_partkey % 974 = 0 THEN 0
      |           ELSE l_partkey % 500 + 1 END AS entrez,
      |         CASE WHEN l_partkey % 487 = 0 THEN ''
      |           ELSE 'G' || CAST(l_partkey % 500 AS VARCHAR) END AS hugo,
      |         CASE WHEN l_linenumber % 7 = 0 THEN '-'
      |           WHEN l_linenumber % 7 = 1 THEN NULL ELSE '+' END AS strand,
      |         CASE l_suppkey % 11 WHEN 0 THEN 'Maybe' WHEN 1 THEN 'NA'
      |           ELSE CASE WHEN (l_suppkey % 11) % 2 = 0 THEN 'Verified'
      |             ELSE 'Unknown' END END AS verst,
      |         l_partkey % 1000 AS t_ref,
      |         CASE WHEN l_suppkey % 19 = 0 THEN -1
      |           ELSE l_orderkey % 500 END AS t_alt,
      |         (l_partkey % 1000)
      |           + (CASE WHEN l_suppkey % 19 = 0 THEN -1 ELSE l_orderkey % 500 END)
      |           - (CASE WHEN l_orderkey % 29 = 0 THEN 5 ELSE 0 END) AS t_depth,
      |         CASE WHEN l_suppkey % 31 = 0 THEN 'rsX13'
      |           WHEN l_suppkey % 31 = 1 THEN 'novel'
      |           WHEN l_suppkey % 31 = 2 THEN ''
      |           ELSE 'rs' || CAST(l_orderkey % 100000 AS VARCHAR) END AS dbsnp,
      |         CASE WHEN l_suppkey % 17 = 0 THEN 'p53_human'
      |           WHEN l_suppkey % 17 = 1 THEN ''
      |           ELSE 'G' || CAST(l_partkey % 500 AS VARCHAR) || '_HUMAN'
      |           END AS swissprot,
      |         CASE WHEN l_linenumber % 5 = 0 THEN ''
      |           WHEN l_suppkey % 29 = 0 THEN 'M1I'
      |           ELSE 'p.M' || CAST(l_orderkey % 1000 + 1 AS VARCHAR) || 'I'
      |           END AS hgvsp,
      |         l_partkey % 800 AS n_ref,
      |         CASE WHEN l_suppkey % 37 = 0 THEN -2
      |           ELSE l_orderkey % 300 END AS n_alt
      |  FROM lineitem),
      |r AS (
      |  SELECT 'portal_meta_files_resolve' AS rule, 0 AS value
      |  UNION ALL SELECT 'portal_study_id_consistent', 0
      |  UNION ALL SELECT 'portal_data_files_have_meta', 0
      |  UNION ALL SELECT 'portal_clinical_header_block', 0
      |  UNION ALL SELECT 'portal_case_list_fields', 0
      |  UNION ALL SELECT 'portal_clinical_no_dup_attrs', 0
      |  UNION ALL SELECT 'portal_case_list_stable_id_unique', 0
      |  UNION ALL SELECT 'portal_case_list_names_unique', 0
      |  UNION ALL SELECT 'portal_meta_unknown_keys', 0
      |  UNION ALL SELECT 'portal_attr_id_format', 0
      |  UNION ALL SELECT 'portal_case_list_ids_nonempty', 0
      |  UNION ALL SELECT 'portal_case_list_dup_ids', 0
      |  UNION ALL SELECT 'portal_case_list_category_known', 0
      |  UNION ALL SELECT 'portal_meta_study_fields', 0
      |  UNION ALL SELECT 'portal_meta_profile_fields', 0
      |  UNION ALL SELECT 'portal_profile_stable_id_suffix', 0
      |  UNION ALL SELECT 'portal_meta_datatype_level', 0
      |  UNION ALL SELECT 'clinical_required_id_columns', 0
      |  UNION ALL SELECT 'clinical_patient_no_sample_cols', 0
      |  UNION ALL SELECT 'clinical_dup_display_names', 0
      |  UNION ALL SELECT 'clinical_attr_no_level_overlap', 0
      |  UNION ALL SELECT 'portal_meta_boolean_values', 0
      |  UNION ALL SELECT 'portal_meta_reference_genome', 0
      |  UNION ALL SELECT 'portal_cases_sequenced_present', 0
      |  UNION ALL SELECT 'portal_cases_all_present', 0
      |  UNION ALL SELECT 'portal_study_id_format', 0
      |  UNION ALL SELECT 'clinical_survival_attrs_patient_level', 0
      |  UNION ALL SELECT 'clinical_deceased_months_present',
      |    (SELECT count(*) FROM (SELECT DISTINCT c_custkey % 1000 AS pk
      |      FROM customer WHERE c_custkey <= 500) t
      |      WHERE pk % 2 = 1 AND pk % 83 <> 0 AND pk % 79 = 0)
      |  UNION ALL SELECT 'clinical_no_dup_patient_id',
      |    (SELECT count(*) - count(DISTINCT patient_id) FROM patients)
      |  UNION ALL SELECT 'clinical_orphan_patients',
      |    (SELECT count(*) FROM patients
      |      WHERE patient_id NOT IN (SELECT patient_id FROM samples))
      |  UNION ALL SELECT 'clinical_number_attrs_numeric',
      |    (SELECT count(*) FROM customer
      |      WHERE c_custkey <= 500 AND c_custkey % 89 = 0)
      |    + (SELECT count(*) FROM (SELECT DISTINCT c_custkey % 1000 AS pk
      |      FROM customer WHERE c_custkey <= 500) t
      |      WHERE pk % 79 = 0 OR (pk % 79 <> 0 AND pk % 73 = 0))
      |  UNION ALL SELECT 'clinical_boolean_attrs_boolean',
      |    (SELECT count(*) FROM customer
      |      WHERE c_custkey <= 500 AND c_custkey % 71 = 0)
      |  UNION ALL SELECT 'clinical_survival_status_format',
      |    (SELECT count(*) FROM (SELECT DISTINCT c_custkey % 1000 AS pk
      |      FROM customer WHERE c_custkey <= 500) t WHERE pk % 83 = 0)
      |  UNION ALL SELECT 'clinical_survival_months_nonneg',
      |    (SELECT count(*) FROM (SELECT DISTINCT c_custkey % 1000 AS pk
      |      FROM customer WHERE c_custkey <= 500) t
      |      WHERE pk % 79 <> 0 AND pk % 73 <> 0 AND pk % 67 = 0)
      |  UNION ALL SELECT 'clinical_na_spellings',
      |    (SELECT count(*) FROM (SELECT DISTINCT c_custkey % 1000 AS pk
      |      FROM customer WHERE c_custkey <= 500) t WHERE pk % 79 = 0)
      |  UNION ALL SELECT 'clinical_value_whitespace',
      |    (SELECT count(*) FROM (SELECT DISTINCT c_custkey % 1000 AS pk
      |      FROM customer WHERE c_custkey <= 500) t
      |      WHERE pk % 79 <> 0 AND pk % 73 = 0)
      |  UNION ALL SELECT 'maf_hugo_entrez_consistent',
      |    (SELECT count(*) FROM (SELECT hugo FROM
      |      (SELECT DISTINCT hugo, entrez FROM maf
      |       WHERE hugo IS NOT NULL AND hugo <> '' AND entrez IS NOT NULL) dd
      |      GROUP BY hugo HAVING count(*) > 1) g)
      |  UNION ALL SELECT 'cases_sequenced_ids_have_mutations',
      |    3 + (SELECT count(*) FROM customer
      |      WHERE c_custkey <= 500 AND c_custkey % 6 <> 0
      |      AND 'S' || CAST(c_custkey AS VARCHAR) NOT IN (SELECT barcode FROM maf))
      |  UNION ALL SELECT 'maf_barcodes_in_cases_sequenced',
      |    (SELECT count(DISTINCT barcode) FROM maf WHERE barcode IN
      |      (SELECT 'S' || CAST(c_custkey AS VARCHAR) FROM customer
      |       WHERE c_custkey <= 500 AND c_custkey % 6 = 0))
      |  UNION ALL SELECT 'sample_patient_in_patients',
      |    (SELECT count(*) FROM samples
      |      WHERE patient_id NOT IN (SELECT patient_id FROM patients))
      |  UNION ALL SELECT 'maf_barcode_in_samples',
      |    (SELECT count(*) FROM maf
      |      WHERE barcode NOT IN (SELECT sample_id FROM samples))
      |  UNION ALL SELECT 'case_list_ids_in_samples',
      |    (SELECT count(*) FROM (SELECT DISTINCT barcode FROM maf)
      |      WHERE barcode NOT IN (SELECT sample_id FROM samples))
      |  UNION ALL SELECT 'no_dup_sample_id',
      |    (SELECT count(*) - count(DISTINCT sample_id) FROM samples)
      |  UNION ALL SELECT 'maf_chromosome_valid',
      |    (SELECT sum(CASE WHEN
      |      (CASE WHEN upper(regexp_replace(chrom, '(?i)^chr', '')) = 'M'
      |        THEN 'MT' ELSE upper(regexp_replace(chrom, '(?i)^chr', '')) END)
      |      NOT IN ('1','2','3','4','5','6','7','8','9','10',
      |      '11','12','13','14','15','16','17','18','19','20','21','22','X','Y','MT')
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_extent_valid',
      |    (SELECT sum(CASE WHEN start_pos <= 0 OR end_pos < start_pos
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_allele_valid',
      |    (SELECT sum(CASE WHEN NOT regexp_matches(ref_allele, '^[ACGTN-]+$')
      |      OR NOT regexp_matches(tum_allele, '^[ACGTN-]+$') THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_mutation_status_valid',
      |    (SELECT sum(CASE WHEN status NOT IN ('Somatic','Germline','LOH','None',
      |      'Unknown','Wildtype','Post-transcriptional modification')
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_barcode_present',
      |    (SELECT sum(CASE WHEN barcode IS NULL OR barcode = '' THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_ncbi_build_consistent',
      |    (SELECT greatest(count(DISTINCT build) - 1, 0) FROM maf)
      |  UNION ALL SELECT 'maf_variant_classification_valid',
      |    (SELECT sum(CASE WHEN vclass NOT IN ('Frame_Shift_Del','Frame_Shift_Ins',
      |      'In_Frame_Del','In_Frame_Ins','Missense_Mutation','Nonsense_Mutation',
      |      'Silent','Splice_Site','Translation_Start_Site','Nonstop_Mutation',
      |      '3''UTR','3''Flank','5''UTR','5''Flank','IGR','Intron','RNA',
      |      'Targeted_Region','De_novo_Start_InFrame','De_novo_Start_OutOfFrame',
      |      'Splice_Region','Unknown') THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_variant_type_valid',
      |    (SELECT sum(CASE WHEN vtype NOT IN ('SNP','DNP','TNP','ONP','INS','DEL')
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_extent_matches_type',
      |    (SELECT sum(CASE WHEN (vtype = 'SNP' AND end_pos <> start_pos)
      |      OR (vtype = 'DNP' AND end_pos <> start_pos + 1)
      |      OR (vtype = 'TNP' AND end_pos <> start_pos + 2)
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_allele_not_identical',
      |    (SELECT sum(CASE WHEN ref_allele = tum_allele THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_validation_status_valid',
      |    (SELECT sum(CASE WHEN vstatus NOT IN ('Valid','Invalid','Untested',
      |      'Inconclusive','Redacted','Unknown') THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_entrez_nonneg',
      |    (SELECT sum(CASE WHEN entrez < 0 THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_gene_identifier_present',
      |    (SELECT sum(CASE WHEN (hugo IS NULL OR hugo = '')
      |      AND (entrez IS NULL OR entrez <= 0) THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_strand_valid',
      |    (SELECT sum(CASE WHEN strand <> '+' THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_verification_status_valid',
      |    (SELECT sum(CASE WHEN verst NOT IN ('Verified','Unknown','NA')
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_allele_len_matches_type',
      |    (SELECT sum(CASE WHEN
      |      (vtype = 'SNP' AND (length(ref_allele) <> 1 OR length(tum_allele) <> 1))
      |      OR (vtype = 'DNP' AND (length(ref_allele) <> 2 OR length(tum_allele) <> 2))
      |      OR (vtype = 'TNP' AND (length(ref_allele) <> 3 OR length(tum_allele) <> 3))
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_indel_allele_shape',
      |    (SELECT sum(CASE WHEN
      |      (vtype = 'INS' AND NOT (ref_allele = '-'
      |        OR length(tum_allele) > length(ref_allele)))
      |      OR (vtype = 'DEL' AND NOT (tum_allele = '-'
      |        OR length(ref_allele) > length(tum_allele)))
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_del_span_matches_ref',
      |    (SELECT sum(CASE WHEN vtype = 'DEL' AND ref_allele <> '-'
      |      AND end_pos - start_pos + 1 <> length(ref_allele)
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_allele_counts_valid',
      |    (SELECT sum(CASE WHEN t_alt < 0 THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_allele_present',
      |    (SELECT sum(CASE WHEN ref_allele IS NULL OR ref_allele = ''
      |      OR tum_allele IS NULL OR tum_allele = '' THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_strand_present',
      |    (SELECT sum(CASE WHEN strand IS NULL OR strand = ''
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_chromosome_present',
      |    (SELECT sum(CASE WHEN chrom IS NULL OR chrom = ''
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_position_present',
      |    (SELECT sum(CASE WHEN start_pos IS NULL OR end_pos IS NULL
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_tumor_allele1_valid',
      |    (SELECT sum(CASE WHEN NOT regexp_matches(tum_allele1, '^[ACGTN-]+$')
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_read_support_consistent',
      |    (SELECT sum(CASE WHEN t_depth < t_ref + t_alt THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_dbsnp_rs_format',
      |    (SELECT sum(CASE WHEN dbsnp IS NOT NULL AND dbsnp <> ''
      |      AND NOT regexp_matches(dbsnp, '^(rs[0-9]+|novel)$')
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_swissprot_format',
      |    (SELECT sum(CASE WHEN swissprot IS NOT NULL AND swissprot <> ''
      |      AND NOT regexp_matches(swissprot,
      |        '^([A-Z0-9]+_HUMAN|[OPQ][0-9][A-Z0-9]{3}[0-9])$')
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_hgvsp_format',
      |    (SELECT sum(CASE WHEN hgvsp IS NOT NULL AND hgvsp <> ''
      |      AND hgvsp NOT LIKE 'p.%' THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_hgvsp_present_nonsilent',
      |    (SELECT sum(CASE WHEN (hgvsp IS NULL OR hgvsp = '')
      |      AND vclass IN ('Missense_Mutation','Nonsense_Mutation',
      |        'Frame_Shift_Del','Frame_Shift_Ins','In_Frame_Del',
      |        'In_Frame_Ins','Nonstop_Mutation','Translation_Start_Site')
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_not_loaded_classification',
      |    (SELECT sum(CASE WHEN vclass IN ('Silent','Intron','3''UTR',
      |      '5''UTR','3''Flank','5''Flank','IGR','RNA')
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_chromosome_no_prefix',
      |    (SELECT sum(CASE WHEN regexp_matches(chrom, '(?i)^chr')
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_germline_reported',
      |    (SELECT sum(CASE WHEN status IN ('Germline','LOH')
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_normal_counts_valid',
      |    (SELECT sum(CASE WHEN n_ref < 0 OR n_alt < 0
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_no_dup_variants',
      |    (SELECT count(*) FROM maf) - (SELECT count(*) FROM
      |      (SELECT DISTINCT barcode, chrom, start_pos, end_pos, tum_allele
      |       FROM maf) t)
      |  UNION ALL SELECT 'maf_ncbi_build_known',
      |    (SELECT sum(CASE WHEN build NOT IN ('36','37','38','GRCh36',
      |      'GRCh37','GRCh38','hg18','hg19','hg38','mm10','GRCm38')
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_ins_span_valid',
      |    (SELECT sum(CASE WHEN vtype = 'INS' AND end_pos <> start_pos + 1
      |      THEN 1 ELSE 0 END) FROM maf)
      |  UNION ALL SELECT 'maf_allele1_consistent',
      |    (SELECT sum(CASE WHEN vtype IN ('SNP','DNP','TNP','ONP')
      |      AND tum_allele1 <> ref_allele AND tum_allele1 <> tum_allele
      |      THEN 1 ELSE 0 END) FROM maf))
      |SELECT rule, CAST(value AS BIGINT) AS value, value = 0 AS passed FROM r""".stripMargin
}

package graft

/** Explicit output contracts (SURVEY §1, §7 build-order item 1) — the
  * places where the reference re-asserts schema facts post-hoc become
  * declared column and file sets here, so contract checks are
  * driver-side set arithmetic.
  */
object Schemas {

  /** The required MAF column contract
    * (reference `src/iatlascbioportalexport/validate.py:14-133`), in the
    * reference's order.
    */
  val RequiredMafCols: Seq[String] = Seq(
    "Hugo_Symbol", "Entrez_Gene_Id", "Center", "NCBI_Build", "Chromosome",
    "Start_Position", "End_Position", "Strand", "Consequence",
    "Variant_Classification", "Variant_Type", "Reference_Allele",
    "Tumor_Seq_Allele1", "Tumor_Seq_Allele2", "dbSNP_RS", "dbSNP_Val_Status",
    "Tumor_Sample_Barcode", "Matched_Norm_Sample_Barcode",
    "Match_Norm_Seq_Allele1", "Match_Norm_Seq_Allele2",
    "Tumor_Validation_Allele1", "Tumor_Validation_Allele2",
    "Match_Norm_Validation_Allele1", "Match_Norm_Validation_Allele2",
    "Verification_Status", "Validation_Status", "Mutation_Status",
    "Sequencing_Phase", "Sequence_Source", "Validation_Method", "Score",
    "BAM_File", "Sequencer", "n_ref_count", "n_alt_count", "HGVSc", "HGVSp",
    "HGVSp_Short", "Transcript_ID", "RefSeq", "Protein_position", "Codons",
    "Exon_Number", "AA_AF", "AF", "AFR_AF", "ALLELE_NUM", "AMR_AF", "ASN_AF",
    "Allele", "Amino_acids", "BIOTYPE", "CANONICAL", "CCDS", "CDS_position",
    "CLIN_SIG", "DISTANCE", "DOMAINS", "EAS_AF", "EA_AF", "ENSP", "EUR_AF",
    "EXON", "Existing_variation", "FILTER", "Feature", "Feature_type",
    "GENE_PHENO", "Gene", "HGNC_ID", "HGVS_OFFSET", "HIGH_INF_POS", "IMPACT",
    "INTRON", "MINIMISED", "MOTIF_NAME", "MOTIF_POS", "MOTIF_SCORE_CHANGE",
    "PHENO", "PICK", "PUBMED", "PolyPhen", "SAS_AF", "SIFT", "SOMATIC",
    "STRAND_VEP", "SWISSPROT", "SYMBOL", "SYMBOL_SOURCE", "TREMBL", "TSL",
    "UNIPARC", "VARIANT_CLASS", "all_effects", "cDNA_position",
    "flanking_bps", "genomic_location_explanation", "gnomADe_AF",
    "gnomADe_AFR_AF", "gnomADe_AMR_AF", "gnomADe_ASJ_AF", "gnomADe_EAS_AF",
    "gnomADe_FIN_AF", "gnomADe_NFE_AF", "gnomADe_OTH_AF", "gnomADe_SAS_AF",
    "n_depth", "t_depth", "t_ref_count", "t_alt_count", "vcf_id", "vcf_pos",
    "vcf_qual", "Annotation_Status", "Peptide", "HLA_Allele",
    "MHCflurry_2.1.1_affinity_nm", "MHCflurry_2.1.1_presentation_score")

  /** Global required-output set (reference `utils.py:11-22`). */
  val RequiredOutputFiles: Seq[String] = Seq(
    "data_clinical_patient.txt", "data_clinical_sample.txt",
    "meta_clinical_patient.txt", "meta_clinical_sample.txt",
    "data_mutations.txt", "meta_mutations.txt",
    "data_gene_signatures.txt", "meta_gene_signatures.txt",
    "data_rna_seq_mrna.txt", "meta_rna_seq_mrna.txt")
}

package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Format12g.format12g

/** TSV source/sink layer reproducing the reference's file surface
  * (SURVEY §2.1):
  *  - S2/S3/S4: `pd.read_csv(sep="\t", comment="#")` scans: Spark's CSV
  *    reader in [[Dialect]], as the `cbio` scan is
  *  - K1: `to_csv(sep="\t", index=False, float_format="%.12g")` sink
  *  - K3: case-list text files (key-value header + tab-joined id list)
  *  - K4: meta key-value files
  *
  * Each column is formatted by a codegen'd expression and lines are
  * assembled with `concat_ws`, distributed; a file output then coalesces
  * to one partition and streams into place — the reference's outputs are
  * small per-dataset files. A multi-part output with the header block in
  * every part is the `cbio` sink's (`CbioTsvSource`, whose header-block
  * schema and versioned commit stay hand-written).
  */
object Tsv {

  /** The one TSV dialect every scan here reads, as both sinks write it:
    * tab-separated with a header row, empty cell = null, quotes escaped by
    * doubling (RFC 4180 / pandas), `#` comment lines, and Format12g's
    * `nan`/`inf`/`-inf` doubles (pandas reads them as floats too).
    */
  val Dialect: Map[String, String] = Map(
    "sep" -> "\t", "header" -> "true", "nullValue" -> "", "escape" -> "\"",
    "comment" -> "#",
    "nanValue" -> "nan", "positiveInf" -> "inf", "negativeInf" -> "-inf")

  private def reader(spark: SparkSession, comment: Option[Char], multiLine: Boolean) =
    spark.read
      .options(comment.fold(Dialect - "comment")(c => Dialect + ("comment" -> c.toString)))
      .option("multiLine", multiLine)

  /** `multiLine` enables quoted records with embedded newlines (pandas
    * reads them by default; Spark must opt in). Costs splittability — a
    * multiLine file is read by ONE task — so leave it off unless the data
    * actually embeds newlines. `fileGlob` keeps only the files of a
    * directory `path` whose names match it, inside Spark's file index.
    */
  def read(spark: SparkSession, path: String,
           comment: Option[Char] = None,
           inferSchema: Boolean = true,
           schema: Option[StructType] = None,
           multiLine: Boolean = false,
           fileGlob: Option[String] = None): DataFrame = {
    val r = reader(spark, comment, multiLine).options(fileGlob.map("pathGlobFilter" -> _).toMap)
    schema match {
      case Some(s) => r.schema(s).csv(path)
      case None    => r.option("inferSchema", inferSchema).csv(path)
    }
  }

  /** [[read]] over many files in ONE distributed scan. Only safe when
    * every file carries the SAME header (multi-file CSV binds each file
    * to the first file's header positionally) — callers group by header
    * first (see MafPipeline.mergeByHeader).
    */
  def readMany(spark: SparkSession, paths: Seq[String],
               comment: Option[Char] = None,
               inferSchema: Boolean = true,
               multiLine: Boolean = false): DataFrame =
    reader(spark, comment, multiLine).option("inferSchema", inferSchema).csv(paths: _*)

  /** A study package file read back as written: every column a string,
    * `#` lines skipped, one header job and no inference pass; None when
    * the file is absent. Ids keep their written form (`007` stays `007`)
    * and values are checked as the portal's importer reads them.
    */
  def readWritten(spark: SparkSession, dir: String, file: String): Option[DataFrame] = {
    val p = Paths.get(dir, file)
    if (!Files.exists(p)) None
    else Some(read(spark, p.toString, comment = Some('#'), inferSchema = false))
  }

  /** Format one column to its TSV string per the reference's serialization:
    * doubles/floats via `%.12g`, everything else via cast-to-string; null →
    * empty string (pandas `to_csv` NaN rendering). Values containing the
    * separator, a newline/CR, or a quote are minimally quoted with doubled
    * inner quotes (pandas QUOTE_MINIMAL) — Spark's CSV reader unquotes
    * them back, so embedded tabs round-trip instead of corrupting rows.
    * In the `first` column a value beginning with `#` is quoted too, or
    * the [[Dialect]]'s comment rule would drop its line on re-read.
    */
  def cellToString(df: DataFrame, field: StructField, first: Boolean): Column = {
    val c = graft.functions.Fns.qcol(field.name)
    val s = field.dataType match {
      case DoubleType            => format12g(c)
      case FloatType             => format12g(c.cast(DoubleType))
      case TimestampType         => date_format(c, "yyyy-MM-dd HH:mm:ss")
      case DateType              => date_format(c, "yyyy-MM-dd")
      case _                     => c.cast(StringType)
    }
    val quoted = when(s.rlike(if (first) "^#|[\t\n\r\"]" else "[\t\n\r\"]"),
      concat(lit("\""), regexp_replace(s, "\"", "\"\""), lit("\""))).otherwise(s)
    coalesce(quoted, lit("")) // concat_ws would silently drop nulls
  }

  /** The whole frame as one `line` string column (header not included).
    * A one-column row whose cell is empty is written `""`, as Python's
    * csv module does: the scan skips blank lines.
    */
  def toLines(df: DataFrame): DataFrame = {
    val cells = df.schema.fields.zipWithIndex.map { case (f, i) => cellToString(df, f, i == 0) }
    val line = concat_ws("\t", cells.toIndexedSeq: _*)
    df.select((if (cells.length == 1) when(line === "", lit("\"\"")).otherwise(line) else line).as("line"))
  }

  def headerLine(df: DataFrame): String = df.columns.mkString("\t")

  /** Single-file TSV with optional `#`-prefixed header block (the
    * cBioPortal 5-line clinical header) — K1 + the header-insertion step
    * the reference delegates to a subprocess
    * (reference `clinical.py:550-620`). Small per-dataset outputs only.
    */
  def writeTsvFile(df: DataFrame, file: String, headerBlock: Seq[String] = Nil): Unit = {
    val target = Paths.get(file)
    Option(target.getParent).foreach(Files.createDirectories(_))
    val tmp = Files.createTempDirectory("graft-tsv")
    try {
      val tmpOut = tmp.resolve("out").toString
      toLines(df).coalesce(1).write.option("header", "false").text(tmpOut)
      val listing = Files.list(Paths.get(tmpOut))
      val part = try listing.filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().orElseThrow(() => new IllegalStateException(s"no part file in $tmpOut"))
      finally listing.close()
      val sb = new StringBuilder
      headerBlock.foreach { h => sb.append(h).append('\n') }
      sb.append(headerLine(df)).append('\n')
      Files.write(target, sb.toString.getBytes(StandardCharsets.UTF_8))
      // stream the part file into place — never the whole file through a
      // driver-side byte array
      val out = Files.newOutputStream(target, StandardOpenOption.APPEND)
      try Files.copy(part, out) finally out.close()
    } finally deleteRecursively(tmp)
  }

  /** K3 — one case-list file: the key-value template every case list
    * shares (reference `clinical.py:56-62`), with the ids tab-joined and a
    * `case_list_category` line when one is given.
    */
  def writeCaseList(file: String, studyId: String, stableId: String, name: String,
                    description: String, category: Option[String], ids: Seq[String]): Path = {
    val p = Paths.get(file)
    Option(p.getParent).foreach(Files.createDirectories(_))
    val content =
      s"cancer_study_identifier: $studyId\n" +
        s"stable_id: $stableId\n" +
        s"case_list_name: $name\n" +
        s"case_list_description: $description\n" +
        category.fold("")(c => s"case_list_category: $c\n") +
        s"case_list_ids: ${ids.mkString("\t")}\n"
    Files.write(p, content.getBytes(StandardCharsets.UTF_8))
  }

  /** K3 — one [[writeCaseList]] file per sanitized group key (reference
    * `clinical.py:683-718`): one aggregate pass, and only the small
    * (type, id) pair list reaches the driver.
    */
  def writeCaseLists(df: DataFrame, keyCol: String, idCol: String,
                     studyId: String, outDir: String): Seq[Path] =
    writeCaseListPairs(df.select(caseListPairs(keyCol, idCol)).head().getSeq[Row](0),
      studyId, outDir)

  /** The aggregate behind [[writeCaseLists]]: every (sanitized key, id)
    * pair, sorted inside Spark — by name, then by id in Spark's UTF-8
    * order. Keys that sanitize to one name (null, `""` and `NA`; `A/B`
    * and `A_B`) share one file, so they must share one sorted list.
    */
  def caseListPairs(keyCol: String, idCol: String): Column =
    sort_array(collect_list(struct(graft.functions.Fns.sanitizeCancerType(col(keyCol)),
      col(idCol).cast(StringType))))

  /** One case list per name of a collected [[caseListPairs]] value, ids
    * in their collected order; null ids are skipped.
    */
  def writeCaseListPairs(pairs: Seq[Row], studyId: String, outDir: String): Seq[Path] =
    pairs.groupBy(_.getString(0)).toSeq.map { case (cancerType, rows) =>
      writeCaseList(s"$outDir/cases_$cancerType.txt", studyId, s"${studyId}_$cancerType",
        s"Samples - $cancerType", s"All samples ($cancerType)", None,
        rows.flatMap(r => Option(r.getString(1))))
    }

  /** K4 — key-value meta file (reference `clinical.py:623-656`). */
  def writeMetaFile(file: String, entries: Seq[(String, String)]): Path = {
    val p = Paths.get(file)
    Option(p.getParent).foreach(Files.createDirectories(_))
    Files.write(p, entries.map { case (k, v) => s"$k: $v" }
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  /** K7 — workspace clear (reference `utils.py:104-111`). */
  def clearDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) deleteRecursively(p)
    Files.createDirectories(p)
  }

  /** Delete `p` and everything under it; a missing `p` is a no-op. */
  private[sources] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteRecursively(_)) finally s.close()
    }
    Files.deleteIfExists(p)
  }
}

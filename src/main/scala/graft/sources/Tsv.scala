package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.time.{ZoneId, ZoneOffset}
import java.time.format.DateTimeFormatter

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, TimeZoneAwareExpression,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Format12gUtil

/** The one owner of the cBioPortal file format (SURVEY §2.1): every
  * module that writes or parses a package file calls it.
  *  - S2/S3/S4: `pd.read_csv(sep="\t", comment="#")` scans: Spark's CSV
  *    reader in [[Dialect]], as the `cbio` scan is
  *  - K1: `to_csv(sep="\t", index=False, float_format="%.12g")`: the
  *    cell and row rules in [[RowRenderer]], which both sinks apply —
  *    [[writeTsvFile]] through one projection ([[RenderLine]]), the `cbio`
  *    sink per row
  *  - the clinical `#` header block: written by [[headerBlock]], read back
  *    with the column line by [[readHead]]
  *  - K3: case-list text files (key-value header + tab-joined id list)
  *  - K4: meta key-value files
  *
  * A single-file output coalesces to one partition and streams into
  * place — the reference's outputs are small per-dataset files. A
  * multi-part output with the header block in every part is the `cbio`
  * sink's (`CbioTsvSource`, whose versioned commit stays its own).
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

  /** [[read]] over many files in ONE distributed scan, `inferSchema` on.
    * Only safe when every file carries the SAME header (multi-file CSV
    * binds each file to the first file's header positionally) — callers
    * group by header first (see MafPipeline.mergeByHeader).
    */
  def readMany(spark: SparkSession, paths: Seq[String],
               comment: Option[Char] = None): DataFrame =
    reader(spark, comment, multiLine = false).option("inferSchema", true).csv(paths: _*)

  /** A study package file read back as written: every column a string,
    * `#` lines skipped, no header job and no inference pass; None when
    * the file is absent. Ids keep their written form (`007` stays `007`)
    * and values are checked as the portal's importer reads them. Quoted
    * values may span lines, as the sinks write them and the `cbio` scan
    * reads them, so each file is one task.
    *
    * The schema comes from the column line [[readHead]] reads. A column
    * line Spark's header read would rewrite (an empty, quoted or repeated
    * name) keeps that read instead.
    */
  def readWritten(spark: SparkSession, dir: String, file: String): Option[DataFrame] = {
    val p = Paths.get(dir, file)
    if (!Files.exists(p)) None
    else {
      val schema = readHead(p.toString).map(_.columns).filter { cs =>
        cs.nonEmpty && cs.forall(c => c.nonEmpty && !c.contains('"')) &&
          cs.map(_.toLowerCase).distinct.size == cs.size
      }.map(cs => StructType(cs.map(StructField(_, StringType))))
      Some(read(spark, p.toString, comment = Some('#'), inferSchema = false,
        schema = schema, multiLine = true))
    }
  }

  /** Each column type's K1 cell rule: `%.12g` doubles and floats, plain
    * decimals, ISO dates, timestamps in the session time zone `zone` (as
    * Spark's own CSV writer renders them), every other value as its
    * string. Flat types only, and the all-null type of a `lit(null)`.
    */
  private def cellRule(zone: ZoneId): PartialFunction[DataType, (InternalRow, Int) => String] = {
    case StringType     => (r, i) => r.getUTF8String(i).toString
    case DoubleType     => (r, i) => Format12gUtil.formatString(r.getDouble(i))
    case FloatType      => (r, i) => Format12gUtil.formatString(r.getFloat(i).toDouble)
    case LongType       => (r, i) => r.getLong(i).toString
    case IntegerType    => (r, i) => r.getInt(i).toString
    case ShortType      => (r, i) => r.getShort(i).toString
    case ByteType       => (r, i) => r.getByte(i).toString
    case BooleanType    => (r, i) => r.getBoolean(i).toString
    case d: DecimalType =>
      (r, i) => r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toPlainString
    case DateType       => (r, i) => java.time.LocalDate.ofEpochDay(r.getInt(i).toLong).toString
    case TimestampType  =>
      val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(zone)
      (r, i) => fmt.format(DateTimeUtils.microsToInstant(r.getLong(i)))
    case NullType       => (_, _) => "" // every cell is null
  }

  /** Fails, naming the offending columns, unless both sinks can write
    * every column of `schema`.
    */
  private[sources] def requireWritable(schema: StructType): Unit = {
    val bad = schema.fields.filterNot(f => cellRule(ZoneOffset.UTC).isDefinedAt(f.dataType))
    require(bad.isEmpty,
      s"cbio sink supports flat string/numeric/boolean/date columns; " +
        s"unsupported: ${bad.map(f => s"${f.name}: ${f.dataType.simpleString}").mkString(", ")}")
  }

  /** The K1 line of a row (no line break): each cell by its column's
    * [[cellRule]], resolved once per column, and null as an empty cell.
    * Cells holding a tab, line break or quote are quoted with inner
    * quotes doubled (pandas QUOTE_MINIMAL), and so is a first cell that
    * begins with `#`, which the [[Dialect]]'s comment rule would drop on
    * re-read. A one-column row whose cell is empty is written `""`, as
    * Python's csv module does: the scan skips blank lines.
    */
  private[sources] final class RowRenderer(schema: StructType, zone: ZoneId) {
    requireWritable(schema)
    private val cells = schema.fields.map(f => cellRule(zone)(f.dataType))

    def line(row: InternalRow): String = {
      val sb = new java.lang.StringBuilder
      var i = 0
      while (i < cells.length) {
        if (i > 0) sb.append('\t')
        if (!row.isNullAt(i)) quoteMinimal(sb, cells(i)(row, i), i == 0)
        i += 1
      }
      if (sb.length == 0 && cells.length == 1) "\"\"" else sb.toString
    }

    private def quoteMinimal(sb: java.lang.StringBuilder, s: String, first: Boolean): Unit = {
      var needs = first && s.startsWith("#")
      var i = 0
      while (i < s.length && !needs) {
        val c = s.charAt(i)
        needs = c == '\t' || c == '\n' || c == '\r' || c == '"'
        i += 1
      }
      if (needs) sb.append('"').append(s.replace("\"", "\"\"")).append('"') else sb.append(s)
    }
  }

  /** One column's cBioPortal clinical header fields; a null field is
    * unknown and takes its default in [[headerBlock]].
    */
  final case class HeaderFields(displayName: String, description: String,
                                dataType: String, priority: String)

  object HeaderFields {
    val Unknown: HeaderFields = HeaderFields(null, null, null, null)
  }

  /** The 4-line `#` clinical header block — display names, descriptions,
    * datatypes, priorities — for columns given as (name, fields, default
    * datatype). An unknown field defaults to the name, the name, the
    * default datatype and `1`. Tabs, CR and LF in a field become spaces,
    * so every row keeps one field per column. Replaces the reference's
    * `insert_clinical_metadata.py` subprocess (`clinical.py:550-620`).
    */
  def headerBlock(columns: Seq[(String, HeaderFields, String)]): Seq[String] = {
    def row(field: HeaderFields => String, default: (String, String) => String): String =
      columns.map { case (name, fields, dataType) =>
        Option(field(fields)).getOrElse(default(name, dataType)).replaceAll("[\t\n\r]", " ")
      }.mkString("#", "\t", "")
    Seq(row(_.displayName, (name, _) => name), row(_.description, (name, _) => name),
      row(_.dataType, (_, dataType) => dataType), row(_.priority, (_, _) => "1"))
  }

  /** A TSV file's head: its `#` lines and its column names (empty when
    * the file has no column line).
    */
  final case class Head(block: Seq[String], columns: Seq[String]) {
    /** Row `i` of the `#` block split into its per-column fields; empty
      * when the block has no row `i`.
      */
    def blockRow(i: Int): Seq[String] =
      if (i < block.length) block(i).stripPrefix("#").split("\t", -1).toSeq else Nil
  }

  /** The files a scan of `path` reads: `path` itself, or a directory's
    * data files by name ([[CbioTsvSource.listDataFiles]]).
    */
  def dataFiles(path: String): Seq[String] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(Bridge.activeHadoopConf())
    if (fs.getFileStatus(p).isDirectory) CbioTsvSource.listDataFiles(fs, p).map(_.toString).toSeq
    else Seq(path)
  }

  /** The head of `path` — for a directory, of its first data file: all
    * parts share one header. Read through Hadoop FS a line at a time,
    * never the file body: `#` lines form the block, blank lines are
    * skipped (as pandas and Spark's CSV scan skip them), and the first
    * other line is the column line, split on tabs (headers are plain
    * identifiers, never quoted). None when a directory has no data file.
    */
  def readHead(path: String): Option[Head] =
    dataFiles(path).headOption.map { file =>
      val p = new HPath(file)
      val in = new BufferedReader(new InputStreamReader(
        p.getFileSystem(Bridge.activeHadoopConf()).open(p), StandardCharsets.UTF_8))
      try {
        val block = scala.collection.mutable.ArrayBuffer.empty[String]
        var line = in.readLine()
        while (line != null && (line.isEmpty || line.startsWith("#"))) {
          if (line.nonEmpty) block += line
          line = in.readLine()
        }
        Head(block.toSeq, if (line == null) Nil else line.split("\t", -1).toSeq)
      } finally in.close()
    }

  /** Single-file TSV with optional `#`-prefixed header block (the
    * cBioPortal 5-line clinical header, [[headerBlock]]) — K1 + the
    * header-insertion step the reference delegates to a subprocess
    * (reference `clinical.py:550-620`). Small per-dataset outputs only.
    * The rows are rendered by a Dataset write, so `observe` metrics on
    * `df` reach their `Observation`.
    */
  def writeTsvFile(df: DataFrame, file: String, headerBlock: Seq[String] = Nil): Unit = {
    requireWritable(df.schema)
    val target = Paths.get(file)
    Option(target.getParent).foreach(Files.createDirectories(_))
    val tmp = Files.createTempDirectory("graft-tsv")
    try {
      val tmpOut = tmp.resolve("out").toString
      val row = struct(df.columns.toIndexedSeq.map(graft.functions.Fns.qcol): _*)
      df.select(Bridge.column(RenderLine(Bridge.expression(row))).as("line"))
        .coalesce(1).write.option("header", "false").text(tmpOut)
      val listing = Files.list(Paths.get(tmpOut))
      val part = try listing.filter(_.getFileName.toString.startsWith("part-"))
        .findFirst().orElseThrow(() => new IllegalStateException(s"no part file in $tmpOut"))
      finally listing.close()
      val sb = new StringBuilder
      headerBlock.foreach { h => sb.append(h).append('\n') }
      sb.append(df.columns.mkString("\t")).append('\n')
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

/** [[Tsv.RowRenderer]] over a struct of every column of a frame: each
  * row's K1 line, in the session time zone the analyzer resolves.
  */
private[sources] case class RenderLine(child: Expression, timeZoneId: Option[String] = None)
    extends UnaryExpression with TimeZoneAwareExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = false

  @transient private lazy val renderer =
    new Tsv.RowRenderer(child.dataType.asInstanceOf[StructType], zoneId)

  def render(row: InternalRow): UTF8String = UTF8String.fromString(renderer.line(row))

  override protected def nullSafeEval(row: Any): Any = render(row.asInstanceOf[InternalRow])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("renderLine", this)
    defineCodeGen(ctx, ev, row => s"$self.render($row)")
  }

  override def withTimeZone(timeZoneId: String): TimeZoneAwareExpression =
    copy(timeZoneId = Option(timeZoneId))

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

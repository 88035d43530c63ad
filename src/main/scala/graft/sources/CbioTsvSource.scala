package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.util.SerializableConfiguration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table,
  TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{ScanBuilder, Statistics}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory,
  LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder,
  WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.v2.csv.{CSVScan, CSVScanBuilder, CSVTable}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 for the cBioPortal clinical-file format the reference
  * emits and re-reads (SURVEY §2.1 S4, K1/K3 header writer; reference
  * `clinical.py:550-620` writes it, `clinical.py:798-808` re-reads it
  * with `skiprows=4`): a TSV whose first four `#`-prefixed lines carry
  * per-column display name / description / datatype / priority, then
  * the header row, then data.
  *
  *   spark.read.format("cbio").load("data_clinical_sample.txt")
  *
  * The READ side's own part is the schema: the header block of one file
  * ([[Tsv.readHead]]) types `NUMBER` columns as DoubleType and puts display-name /
  * description / priority in each field's `Metadata` — the
  * schema-at-rest the reference keeps in a side table. The scan is
  * Spark's CSV reader in [[CbioTsvSource.ScanOptions]], with Spark's
  * pruning and filter pushdown; the hand-written reader it replaced was
  * 2.6–2.7× slower on 200k rows and 0.95–1.37× on 50 (CHANGES.md).
  *
  * The WRITE side (the reference's `save_to_synapse`, `load.py:38-82`)
  * is the same format produced distributed: each task streams its
  * partition to a staged part file (own `#` header block + header row +
  * rows, written by [[Tsv.headerBlock]] and [[Tsv.RowRenderer]], the K1
  * sink's own rules), and one commit step renames staged files into place and
  * bumps a `_version.json` sidecar carrying the Synapse-style version
  * number and `version_comment`. Uncommitted attempts never become
  * visible (readers skip `_`-prefixed files), so a failed or speculative
  * task leaves no partial data — the rename-on-commit protocol that keeps
  * a 1000-task write exactly-once without any coordination beyond the
  * driver's commit message collection.
  *
  *   df.write.format("cbio").option("versionComment", "v2 refresh")
  *     .mode("overwrite").save(dir)     // or mode("append")
  */
class CbioTsvSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "cbio"

  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = options.get("path")
    require(path != null, "cbio source requires a path")
    CbioTsvSource.inferFromFile(path)
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new CbioTsvTable(properties.get("path"), schema)
}

object CbioTsvSource {
  /** The version sidecar the write path maintains (Synapse entity
    * versioning, reference `load.py:58-66`): bumped on every committed
    * write, carrying the caller's `version_comment`.
    */
  val VersionSidecar = "_version.json"

  /** The one JSON mapper of the sidecars the sources write and read: this
    * version sidecar and the synapse entity `meta.json`.
    */
  private[sources] val Json = new ObjectMapper()

  private[sources] def readJson(fs: FileSystem, p: Path): JsonNode = {
    val in = fs.open(p)
    try Json.readTree(in) finally in.close()
  }

  private[sources] def writeJson(fs: FileSystem, p: Path, node: JsonNode): Unit = {
    val out = fs.create(p, true)
    try out.write(Json.writeValueAsBytes(node)) finally out.close()
  }

  /** Write the version sidecar of the dataset directory `dir`. */
  private[sources] def writeVersion(fs: FileSystem, dir: Path, version: Long, comment: String,
                                    queryId: Option[String], files: Seq[String]): Unit = {
    val node = Json.createObjectNode().put("version", version).put("comment", comment)
    queryId.foreach(q => node.put("queryId", q))
    val names = node.putArray("files")
    files.foreach(f => names.add(f))
    writeJson(fs, new Path(dir, VersionSidecar), node)
  }

  /** What the cbio format adds to [[Tsv.Dialect]]: quoted cells may span
    * lines (a file is never split across tasks), and a part whose header
    * differs from the schema fails the read instead of binding by position.
    */
  private[sources] val ScanOptions: Map[String, String] = Tsv.Dialect ++ Map(
    "multiLine" -> "true", "enforceSchema" -> "false",
    // paths are literal: a `[` or `*` in a directory name is not a glob
    "__globPaths__" -> "false")

  /** The CSV table a cbio or synapse table scans through; its file index
    * lists `path` once. Caller options are not merged in.
    */
  private[sources] def csvTable(path: String, schema: StructType): CSVTable =
    CSVTable(s"cbio:$path", SparkSession.active,
      new CaseInsensitiveStringMap(ScanOptions.asJava), Seq(path), Some(schema),
      classOf[CSVFileFormat])

  /** A dataset directory's data files by name. Sidecars, staging files
    * and FS markers (`_`/`.` prefixes) are skipped, as the scan's file
    * index skips them.
    */
  private[sources] def listDataFiles(fs: FileSystem, dir: Path): Array[Path] =
    fs.listStatus(dir).filter(_.isFile).map(_.getPath)
      .filterNot(p => p.getName.startsWith("_") || p.getName.startsWith(".")).sortBy(_.getName)

  /** (version, comment) from the sidecar, if the dataset has been written
    * through the cbio sink; None for hand-assembled directories.
    */
  def currentVersion(path: String): Option[(Long, String)] = {
    val dir = new Path(path)
    val fs = FileSystem.get(dir.toUri, Bridge.activeHadoopConf())
    val sidecar = new Path(dir, VersionSidecar)
    if (!fs.exists(sidecar)) None
    else {
      val json = readJson(fs, sidecar)
      Option(json.get("version")).filter(_.canConvertToLong).map(v =>
        (v.asLong, Option(json.get("comment")).fold("")(_.asText)))
    }
  }

  /** The schema the header block of `path` declares (for a directory, of
    * its first data file): NUMBER columns typed double, every other
    * column a string, display name / description / priority in each
    * field's metadata. A file without a block reads as all strings.
    */
  private[sources] def inferFromFile(path: String): StructType = {
    val head = Tsv.readHead(path).filter(_.columns.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(s"no header row in $path"))
    // the writer's block: #display, #description, #datatype, #priority
    val Seq(display, desc, dtype, prio) = (0 until 4).map(head.blockRow)
    def at(a: Seq[String], i: Int): Option[String] =
      if (i < a.length && a(i).nonEmpty) Some(a(i)) else None
    StructType(head.columns.zipWithIndex.map { case (name, i) =>
      val t = at(dtype, i) match {
        case Some("NUMBER") => DoubleType
        case _              => StringType
      }
      val mb = new MetadataBuilder()
      at(display, i).foreach(mb.putString("displayName", _))
      at(desc, i).foreach(mb.putString("description", _))
      at(prio, i).foreach(mb.putString("priority", _))
      StructField(name, t, nullable = true, mb.build())
    })
  }
}

private[sources] class CbioTsvTable(path: String, schema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"cbio:$path"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE).asJava

  private lazy val csv = CbioTsvSource.csvTable(path, schema)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new UnsizedCsvScanBuilder(csv)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new CbioWriteBuilder(path, info)
}

/** The CSV scan of a cbio or synapse table, reporting no size (as the
  * hand-written reader it replaced did not). A known size makes the
  * export's MAF annotation join a static broadcast, which writes
  * `data_mutations.txt` in another row order: the written order is still
  * the plan's, not the input's (ROADMAP item 9; once it is, this class goes).
  */
private[sources] class UnsizedCsvScanBuilder(t: CSVTable)
    extends CSVScanBuilder(t.sparkSession, t.fileIndex, t.schema, t.dataSchema, t.options) {
  override def build(): CSVScan =
    new CSVScan(sparkSession, fileIndex, dataSchema, readDataSchema(), readPartitionSchema(),
        options, pushedDataFilters, partitionFilters, dataFilters) {
      override def estimateStatistics(): Statistics = new Statistics {
        override def sizeInBytes(): util.OptionalLong = util.OptionalLong.empty()
        override def numRows(): util.OptionalLong = util.OptionalLong.empty()
      }
    }
}

private[sources] class CbioWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var truncateFirst = false

  // mode("overwrite") plans OverwriteByExpression(true) -> truncate()
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  // the session time zone is read here, at planning, for the tasks
  override def build(): Write = {
    Tsv.requireWritable(info.schema())
    new CbioWrite(path, info.schema(), SQLConf.get.sessionLocalTimeZone, info.queryId(),
      Option(info.options.get("versionComment")), truncateFirst)
  }
}

private[sources] class CbioWrite(path: String, schema: StructType, timeZone: String,
                                 queryId: String, comment: Option[String],
                                 truncateFirst: Boolean)
    extends Write {
  override def toBatch: BatchWrite =
    new CbioBatchWrite(path, schema, timeZone, queryId, comment, truncateFirst)
}

/** Task commit message: the staged file this attempt produced (None for an
  * empty partition — no header-only part files clutter the dataset).
  */
private[sources] case class CbioCommit(partitionId: Int, staged: Option[String])
    extends WriterCommitMessage

private[sources] class CbioBatchWrite(path: String, schema: StructType, timeZone: String,
                                      queryId: String, comment: Option[String],
                                      truncateFirst: Boolean)
    extends BatchWrite {

  private def fs(): (FileSystem, Path) = {
    val dir = new Path(path)
    (FileSystem.get(dir.toUri, Bridge.activeHadoopConf()), dir)
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val (hfs, dir) = fs()
    hfs.mkdirs(dir) // driver-side, before any task runs
    CbioWriterFactory(path, schema, timeZone, queryId, Bridge.serializableConf())
  }

  /** Driver-side commit: the only place staged data becomes visible.
    * Renames are per-file metadata operations — no data moves — so the
    * commit is O(parts) regardless of data size. Order matters for
    * overwrite: the new parts are renamed into place FIRST, the previous
    * version's files (distinguishable by queryId in the name) deleted
    * after — a crash mid-commit can expose old+new parts together for
    * one overwrite window, but never loses the previous version while
    * showing a partial new one. The version sidecar is written last: a
    * crash before it leaves a readable dataset and a stale version,
    * never a torn file.
    */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val (hfs, dir) = fs()
    val priorVersion = CbioTsvSource.currentVersion(path).map(_._1).getOrElse(0L)
    messages.collect { case CbioCommit(pid, Some(staged)) =>
      val target = new Path(dir, f"part-$pid%05d-$queryId.cbio.txt")
      if (!hfs.rename(new Path(staged), target))
        throw new java.io.IOException(s"cbio commit: rename $staged -> $target failed")
    }
    if (truncateFirst) {
      // delete only files NOT named by this commit's exact part pattern
      // (substring matching could both spare and destroy the wrong files
      // if one queryId were a prefix of another). Concurrent overwrites
      // of one dataset path remain unsupported: two committers would
      // each delete the other's freshly renamed parts — use the
      // SynapseStore claim-file path for contended writes.
      // \d{5,}: f"part-$pid%05d" widens past 5 digits at partitionId
      // >= 100000 — an exact {5} would fail to match the committer's
      // OWN freshly renamed parts there and delete them
      val ownPart = raw"part-\d{5,}-${java.util.regex.Pattern.quote(queryId)}\.cbio\.txt".r
      CbioTsvSource.listDataFiles(hfs, dir)
        .filterNot(f => ownPart.matches(f.getName))
        .foreach(hfs.delete(_, false))
    }
    dropStaging(hfs, dir) // failed/speculative attempts' leftovers
    val files = CbioTsvSource.listDataFiles(hfs, dir).map(_.getName)
    CbioTsvSource.writeVersion(hfs, dir, priorVersion + 1L, comment.getOrElse(""),
      Some(queryId), files.toSeq)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val (hfs, dir) = fs()
    if (hfs.exists(dir)) dropStaging(hfs, dir)
  }

  private def dropStaging(hfs: FileSystem, dir: Path): Unit =
    hfs.listStatus(dir).map(_.getPath)
      .filter(_.getName.startsWith(s"_staging-$queryId-"))
      .foreach(hfs.delete(_, false))
}

private[sources] case class CbioWriterFactory(path: String, schema: StructType,
                                              timeZone: String, queryId: String,
                                              conf: SerializableConfiguration)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new CbioDataWriter(path, schema, timeZone, queryId, partitionId, taskId, conf)
}

private[sources] class CbioDataWriter(path: String, schema: StructType, timeZone: String,
                                      queryId: String, partitionId: Int, taskId: Long,
                                      conf: SerializableConfiguration)
    extends DataWriter[InternalRow] {

  private val staged = s"$path/_staging-$queryId-p$partitionId-t$taskId.cbio.txt"
  private var out: java.io.Writer = _
  private val renderer = new Tsv.RowRenderer(schema, java.time.ZoneId.of(timeZone))

  // opened on first row: empty partitions produce no file at all
  private def writer(): java.io.Writer = {
    if (out == null) {
      val p = new Path(staged)
      val hfs = FileSystem.get(p.toUri, conf.value)
      out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
        hfs.create(p, true), java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
      // the block round-trips the field metadata a cbio read surfaced;
      // an explicit "dataType" wins over the Spark type, so a
      // STRING-declared attribute inferred numeric still publishes STRING
      Tsv.headerBlock(schema.fields.toSeq.map { f =>
        def meta(key: String) = if (f.metadata.contains(key)) f.metadata.getString(key) else null
        (f.name, Tsv.HeaderFields(meta("displayName"), meta("description"), meta("dataType"),
          meta("priority")), f.dataType match {
          case _: NumericType => "NUMBER"
          case _              => "STRING"
        })
      }).foreach { l => out.write(l); out.write('\n') }
      out.write(schema.fieldNames.mkString("\t")); out.write('\n')
    }
    out
  }

  override def write(row: InternalRow): Unit = {
    val w = writer()
    w.write(renderer.line(row))
    w.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    if (out != null) out.close()
    CbioCommit(partitionId, if (out != null) Some(staged) else None)
  }

  override def abort(): Unit = {
    if (out != null) out.close()
    val p = new Path(staged)
    val hfs = FileSystem.get(p.toUri, conf.value)
    if (hfs.exists(p)) hfs.delete(p, false)
  }

  override def close(): Unit = ()
}

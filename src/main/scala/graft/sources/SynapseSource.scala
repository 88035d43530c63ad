package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Mock Synapse entity store + the `synapse` read format — the ingest
  * surface the reference opens every run with (S1: `syn.get(synid).path`
  * → `pd.read_csv`, reference `clinical.py:213/319`, `maf.py:23-28`
  * `syn.getChildren`; store side: `load.py:38-82` `syn.store` with
  * `version_comment`). No network: entities live under a local root as
  *
  *   <root>/<synId>/meta.json       {"synId", "name", "parent", "latest"}
  *   <root>/<synId>/v<N>/           one cbio dataset directory per version
  *
  * Entity ids are deterministic (`syn` + md5 of parent/name), so
  * re-storing the same name under the same parent bumps the version —
  * Synapse's file-entity semantics. Each version directory is written by
  * the distributed cbio sink, which also records the per-version
  * `version_comment` in its `_version.json` sidecar.
  *
  * The read format resolves synId → version directory and reads it as
  * the cbio format does (header-block schema, Spark's CSV scan):
  *
  *   spark.read.format("synapse").option("store", root)
  *     .option("version", "2")          // omit for latest
  *     .load("syn1a2b3c4d5e6f")
  */
object SynapseStore {

  /** Deterministic entity id for (parent, name) — re-storing bumps the
    * version instead of minting a new entity.
    */
  def entityId(parentId: String, name: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$parentId/$name".getBytes("UTF-8"))
    "syn" + md.take(6).map("%02x".format(_)).mkString
  }

  private def fs(root: String): (FileSystem, Path) = {
    val p = new Path(root)
    (FileSystem.get(p.toUri, Bridge.activeHadoopConf()), p)
  }

  /** Atomically claim the next free version number for an entity.
    *
    * Two concurrent `store`s to the same (parent, name) must not both
    * write `v<N>`: the claim is an exclusive file create
    * (`create(overwrite = false)` — atomic on a real filesystem), so
    * exactly one writer wins each number and the loser retries with the
    * next. Claim files persist, keeping version numbers monotonic even
    * if a claimed write later fails (Synapse itself never reuses a
    * version number).
    */
  private def claimVersion(hfs: FileSystem, entityDir: Path, hint: Long): Long = {
    var n = math.max(hint, 1L)
    hfs.mkdirs(entityDir)
    while (true) {
      val claim = new Path(entityDir, s"v$n.claim")
      val taken = hfs.exists(claim) || hfs.exists(new Path(entityDir, s"v$n"))
      if (!taken) {
        try {
          // On file:// go through java.nio: Files.createFile is a real
          // O_CREAT|O_EXCL, while RawLocalFileSystem.create(overwrite =
          // false) is a non-atomic exists-then-open. On HDFS-like
          // filesystems create(false) is atomic at the namenode.
          val uri = hfs.makeQualified(claim).toUri
          if (uri.getScheme == "file")
            java.nio.file.Files.createFile(java.nio.file.Paths.get(uri.getPath))
          else hfs.create(claim, false).close()
          return n
        } catch {
          case _: org.apache.hadoop.fs.FileAlreadyExistsException => n += 1
          case _: java.nio.file.FileAlreadyExistsException => n += 1
          case e: java.io.IOException if e.getMessage != null &&
              e.getMessage.contains("already exists") => n += 1
        }
      } else n += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Stage-then-rename commit: the version directory appears atomically
    * (a reader never observes a half-written `v<N>`); writes stage under
    * a dot-prefixed temp dir invisible to [[latestVersion]].
    */
  private def commitVersionDir(hfs: FileSystem, entityDir: Path, n: Long,
                               write: Path => Unit): Unit = {
    val tmp = new Path(entityDir,
      s".tmp-v$n-${java.util.UUID.randomUUID().toString.take(8)}")
    write(tmp)
    val target = new Path(entityDir, s"v$n")
    if (!hfs.rename(tmp, target))
      throw new java.io.IOException(s"synapse store: rename $tmp -> $target failed")
  }

  private def writeEntityMeta(hfs: FileSystem, rootP: Path, id: String,
                              name: String, parentId: String, latest: Long): Unit = {
    CbioTsvSource.writeJson(hfs, new Path(rootP, s"$id/meta.json"),
      CbioTsvSource.Json.createObjectNode().put("synId", id).put("name", name)
        .put("parent", parentId).put("latest", latest))
  }

  /** `syn.store(File(...), version_comment=...)`: writes the frame as a
    * new version of the (parent, name) entity through the distributed
    * cbio sink and returns the synId.
    */
  def store(df: DataFrame, root: String, name: String, parentId: String,
            versionComment: String = ""): String = {
    val id = entityId(parentId, name)
    val (hfs, rootP) = fs(root)
    val entityDir = new Path(rootP, id)
    val next = claimVersion(hfs, entityDir, latestVersion(root, id).getOrElse(0L) + 1L)
    commitVersionDir(hfs, entityDir, next, tmp =>
      df.write.format("cbio").option("versionComment", versionComment)
        .mode("overwrite").save(tmp.toString))
    writeEntityMeta(hfs, rootP, id, name, parentId,
      latestVersion(root, id).getOrElse(next))
    id
  }

  /** `syn.store(File(path))`: stores a local file AS-IS as a new version
    * of the (parent, name) entity — the reference's upload loop stores
    * its written outputs (data TSVs, meta key-value files, case lists)
    * verbatim (`load.py:57-66`). The version-comment sidecar keeps the
    * same shape as the DataFrame store, so [[versionComment]] works on
    * both.
    */
  def storeFile(root: String, localFile: String, name: String, parentId: String,
                versionComment: String = ""): String = {
    val id = entityId(parentId, name)
    val (hfs, rootP) = fs(root)
    val entityDir = new Path(rootP, id)
    val next = claimVersion(hfs, entityDir, latestVersion(root, id).getOrElse(0L) + 1L)
    commitVersionDir(hfs, entityDir, next, { vdir =>
      hfs.mkdirs(vdir)
      org.apache.hadoop.fs.FileUtil.copy(
        hfs, new Path(localFile), hfs, new Path(vdir, name),
        false, true, Bridge.activeHadoopConf())
      CbioTsvSource.writeVersion(hfs, vdir, next, versionComment, None, Seq(name))
    })
    // re-list after commit: a concurrent racer may have committed a HIGHER
    // version between our claim and now — meta.json's "latest" must never
    // regress for external readers of the entity contract (internal reads
    // derive latest from the v-dir listing regardless)
    writeEntityMeta(hfs, rootP, id, name, parentId,
      latestVersion(root, id).getOrElse(next))
    id
  }

  /** `syn.get(synid, version=...).path`: the local path of an entity
    * version (default: latest). The returned path is a cbio dataset
    * directory readable by `format("cbio")` or `format("synapse")`.
    */
  def get(root: String, synId: String, version: Option[Long] = None): String = {
    val latest = latestVersion(root, synId).getOrElse(
      throw new IllegalArgumentException(s"synapse store: unknown entity $synId"))
    val v = version.getOrElse(latest)
    require(v >= 1 && v <= latest,
      s"synapse store: $synId has versions 1..$latest, asked for $v")
    val (_, rootP) = fs(root)
    new Path(rootP, s"$synId/v$v").toString
  }

  /** `syn.getChildren(folderId)`: (synId, name) of entities whose parent
    * is the folder. Driver-side listing over entity metas — the mock
    * equivalent of one REST page.
    */
  def getChildren(root: String, folderId: String): Seq[(String, String)] = {
    val (hfs, rootP) = fs(root)
    if (!hfs.exists(rootP)) return Seq.empty
    hfs.listStatus(rootP).filter(_.isDirectory).toSeq.flatMap { d =>
      val metaP = new Path(d.getPath, "meta.json")
      if (!hfs.exists(metaP)) None
      else {
        val meta = CbioTsvSource.readJson(hfs, metaP)
        def field(k: String) = Option(meta.get(k)).map(_.asText)
        if (field("parent").contains(folderId))
          field("name").map(d.getPath.getName -> _)
        else None
      }
    }.sortBy(_._2)
  }

  /** Latest version number of an entity, None if it does not exist.
    * Derived from the committed `v<N>` directories, NOT meta.json's
    * `latest` field: version directories appear atomically (rename
    * commit), so the listing is the authoritative, race-free view even
    * while a concurrent writer's meta.json update is still in flight.
    */
  def latestVersion(root: String, synId: String): Option[Long] = {
    val (hfs, rootP) = fs(root)
    val entityDir = new Path(rootP, synId)
    if (!hfs.exists(entityDir)) None
    else {
      val versions = hfs.listStatus(entityDir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
        .map(_.getPath.getName.drop(1).toLong)
      if (versions.isEmpty) None else Some(versions.max)
    }
  }

  /** The version comment an entity version was stored with (from the cbio
    * sidecar of that version's dataset directory).
    */
  def versionComment(root: String, synId: String, version: Long): Option[String] =
    CbioTsvSource.currentVersion(get(root, synId, Some(version))).map(_._2)
}

class SynapseSource extends TableProvider with DataSourceRegister {

  override def shortName(): String = "synapse"

  override def supportsExternalMetadata(): Boolean = false

  private def resolve(store: String, id: String, version: String): String = {
    require(store != null, "synapse source requires .option(\"store\", <root>)")
    require(id != null, "synapse source requires .load(<synId>)")
    SynapseStore.get(store, id, Option(version).map(_.toLong))
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    CbioTsvSource.inferFromFile(
      resolve(options.get("store"), options.get("path"), options.get("version")))

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table = {
    val resolved = resolve(properties.get("store"), properties.get("path"),
      properties.get("version"))
    new SynapseReadTable(resolved, schema)
  }
}

/** Read-only view of one resolved entity version; it scans like a cbio
  * table (writes go through [[SynapseStore.store]], which is what
  * assigns version numbers — a raw path write would bypass them).
  */
private[sources] class SynapseReadTable(path: String, schema: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"synapse:$path"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  private lazy val csv = CbioTsvSource.csvTable(path, schema)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new UnsizedCsvScanBuilder(csv)
}

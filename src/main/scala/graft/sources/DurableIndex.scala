package graft.sources

import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption}

/** The one owner of build-once on-disk artifacts: every root keyed by an
  * identity string lives here — the decontamination and dedup gram
  * indexes, the annotation [[KeyedStore]], the v18 fixture MAF and
  * package, and the s5/s6 fixture packages. At 100 TB a corpus-derived
  * index (gram table, Bloom sketch, signature store) is built ONCE per
  * corpus version and read by every later job, not recomputed per
  * session. The root lives at `<tmp>/<family>/<md5(ident)>`.
  *
  * A build runs into its own `build-*` temp dir, which gets a
  * [[Marker]] file before it is ATOMIC_MOVEd into place; concurrent
  * builders race safely (the loser deletes its build and uses the
  * winner's). A root without the marker — one a `/tmp` cleaner has
  * partly deleted, or one written before roots carried markers — is
  * treated as absent: it is renamed to a `build-*` name, deleted, and
  * rebuilt.
  */
object DurableIndex {

  /** Completion marker inside every root. The `_` prefix keeps it out of
    * Spark's file scans, [[KeyedStore]]'s shard list and the portal
    * validator's package listing.
    */
  val Marker = "_GRAFT_COMPLETE"

  /** The root for `ident` under `<tmp>/<family>/`, running `build` into
    * a private temp dir on first use. `build` must fully populate the
    * directory it is given (it may replace it, as a Spark overwrite
    * does); the move into place is atomic.
    */
  def once(family: String, ident: String)(build: Path => Unit): Path = {
    val hash = java.security.MessageDigest.getInstance("MD5")
      .digest(ident.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val base = Paths.get(System.getProperty("java.io.tmpdir"), family)
    Files.createDirectories(base)
    val root = base.resolve(hash)
    if (Files.exists(root) && !Files.exists(root.resolve(Marker))) {
      val stale = base.resolve(s"build-$hash-stale-${java.util.UUID.randomUUID()}")
      try { Files.move(root, stale, StandardCopyOption.ATOMIC_MOVE); () }
      catch { case _: NoSuchFileException => () } // another process retired it first
      Tsv.deleteRecursively(stale)
    }
    if (!Files.exists(root)) {
      val tmp = Files.createTempDirectory(base, s"build-$hash-")
      build(tmp)
      Files.createFile(tmp.resolve(Marker))
      try { Files.move(tmp, root, StandardCopyOption.ATOMIC_MOVE); () }
      catch { case e: java.nio.file.FileSystemException
                   if Files.exists(root) || e.isInstanceOf[java.nio.file.FileAlreadyExistsException] =>
        // another builder won the race — use its index; drop ours. On
        // Linux the lost race onto a non-empty dir surfaces as
        // DirectoryNotEmptyException (a FileSystemException), not
        // FileAlreadyExistsException; catch the family, but only when
        // the winner's index is actually there.
        Tsv.deleteRecursively(tmp)
      }
    }
    root
  }
}

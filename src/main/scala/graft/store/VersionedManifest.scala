package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}

/** Versioned line-list manifests under a table/index root — minimal
  * reader snapshot isolation without a table-format dependency. One
  * instance per manifest family (`dirName` keeps families from
  * colliding under one root); the lines' meaning belongs to the caller
  * (data-file paths for [[graft.billing.RawManifest]], segment relation
  * dirs for the persisted index family in [[graft.ext.IndexStore]]).
  *
  * Problem this solves, everywhere it's used: a reader that lists a
  * directory while a writer swaps files can see a mixed world (old +
  * new files → doubled rows; neither → missing rows), and directory
  * renames are non-atomic on object stores. Instead, every mutator
  * commit publishes `$root/$dirName/v{N}` — an atomically-renamed file
  * listing the snapshot — and readers pin the newest manifest instead
  * of listing directories. Mutators only ever ADD files; anything
  * dropped from the manifest stays on disk until GC finds it
  * unreferenced by the newest `retain` versions, so a pinned reader's
  * files outlive at least that many later commits — the
  * time-travel-window contract Delta/Iceberg make, with version-depth
  * instead of wall-clock retention. At real object-store scale the
  * atomic-rename commit is replaced by a table format's commit
  * protocol; the caller API shape is unchanged.
  *
  * Layout: `$root/$dirName/v%012d` — one line per entry, relative to
  * the root. Committed under the writer lock ([[graft.billing.TableLock]]),
  * so version numbers never race. Every version file is written and
  * read through [[ControlFile]], which owns the publish contract.
  */
class VersionedManifest(dirName: String) {

  private def dir(root: String) = new Path(root, dirName)

  private def file(root: String, version: Long) =
    new Path(dir(root), f"v$version%012d")

  private val Version = "v(\\d{12})".r

  /** Per-version cleanup hook for sidecar metadata keyed by manifest
    * file (e.g. the billing store's stats sidecars). Default: none.
    */
  protected def onPrune(fs: FileSystem, manifest: Path): Unit = ()

  private def versionsOn(fs: FileSystem, root: String): Seq[(Long, Path)] =
    (if (fs.exists(dir(root))) fs.listStatus(dir(root)).toSeq else Seq.empty)
      .flatMap { st =>
        st.getPath.getName match {
          case Version(n) => Some(n.toLong -> st.getPath)
          case _          => None
        }
      }
      .sortBy(_._1)

  /** Newest committed (version, lines). None = no manifest yet
    * (pre-manifest layout or empty root) — callers fall back to
    * directory listing.
    */
  def latest(fs: FileSystem, root: String): Option[(Long, Seq[String])] =
    versionsOn(fs, root).lastOption.flatMap { case (v, p) =>
      entry(fs, p).map(v -> _._1)
    }

  /** All committed versions still on disk, oldest first. */
  def versions(fs: FileSystem, root: String): Seq[Long] =
    versionsOn(fs, root).map(_._1)

  /** Whether `version`'s manifest file is present — one existence probe
    * (a HEAD on an object store), the building block of read-through
    * caching: a cached (version, lines) is current iff `version` still
    * exists and `version + 1` does not (commits are strictly
    * sequential under the writer lock).
    */
  def exists(fs: FileSystem, root: String, version: Long): Boolean =
    fs.exists(file(root, version))

  /** The lines of one retained version (None once history pruning or GC
    * dropped it).
    */
  def filesAt(fs: FileSystem, root: String, version: Long): Option[Seq[String]] =
    entry(fs, file(root, version)).map(_._1)

  /** The `op` tag `version` was committed with ("" for pre-tag
    * manifests, untagged commits or a version no longer retained) —
    * carried INSIDE the manifest file, so it is atomic with the commit
    * it describes. This is what lets a change-feed reader tell a
    * content-preserving rewrite (compact) from a semantic replace (full
    * refresh) without diffing data.
    */
  def opAt(fs: FileSystem, root: String, version: Long): String =
    entry(fs, file(root, version)).fold("")(_._2)

  /** One parse of a manifest file: its lines and its `#op=` tag. Comment
    * lines are not lines.
    */
  private def entry(fs: FileSystem, p: Path): Option[(Seq[String], String)] =
    ControlFile.read(fs, p).map { txt =>
      val all = txt.split("\n").iterator.map(_.trim).filter(_.nonEmpty).toSeq
      (all.filterNot(_.startsWith("#")),
        all.collectFirst { case l if l.startsWith("#op=") => l.drop(4) }
          .getOrElse(""))
    }

  /** Publish the next version ([[ControlFile.publish]]: hidden temp,
    * atomic rename). Caller holds the writer lock, so the next version
    * number cannot race. A nonempty `op` is recorded as a `#op=` header
    * line inside the file (comment lines are invisible to [[latest]]/
    * [[filesAt]] readers; [[opAt]] reads them back).
    */
  def commit(fs: FileSystem, root: String, files: Seq[String],
      op: String = ""): Long = {
    val next = versionsOn(fs, root).lastOption.map(_._1 + 1).getOrElse(1L)
    val header = if (op.isEmpty) "" else s"#op=$op\n"
    ControlFile.publish(fs, file(root, next),
      header + files.sorted.mkString("\n"))
    next
  }

  /** Union of the lines referenced by the newest `retain` manifests —
    * everything a reader pinned up to `retain` commits ago may still be
    * scanning, i.e. everything GC must keep.
    */
  def referenced(fs: FileSystem, root: String, retain: Int): Set[String] =
    versionsOn(fs, root).takeRight(math.max(retain, 1))
      .flatMap { case (_, p) => entry(fs, p).fold(Seq.empty[String])(_._1) }
      .toSet

  /** Drop manifest history beyond the newest `keep` versions (the list
    * files themselves are tiny; this only bounds the directory).
    */
  def pruneHistory(fs: FileSystem, root: String, keep: Int): Unit =
    versionsOn(fs, root).dropRight(math.max(keep, 1))
      .foreach { case (_, p) =>
        fs.delete(p, false)
        onPrune(fs, p)
      }

  /** Drop every manifest version NOT in `keep` (the newest always
    * survives as a floor) — the lease-aware pruning shape: the caller
    * names exactly which versions must stay addressable (retention
    * window ∪ active reader leases) and everything else goes.
    */
  def pruneExcept(fs: FileSystem, root: String, keep: Set[Long]): Unit = {
    val vs = versionsOn(fs, root)
    val floor = vs.lastOption.map(_._1)
    vs.filterNot { case (v, _) => keep.contains(v) || floor.contains(v) }
      .foreach { case (_, p) =>
        fs.delete(p, false)
        onPrune(fs, p)
      }
  }
}

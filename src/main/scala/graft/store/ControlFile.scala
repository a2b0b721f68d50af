package graft.store

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one way the engine makes a small control file durable and reads
  * it back. The reference gets crash-consistent state from its single
  * DuckDB file (pipeline/pipeline.py:179); this engine keeps that state
  * in small files beside its parquet data, and every one of them goes
  * through the calls below:
  *
  *   - manifest versions and their `#op=` tags ([[VersionedManifest]]);
  *   - the billing store's per-version stats sidecars
  *     ([[graft.billing.FileStats]]) and writer-lock payloads
  *     ([[graft.billing.TableLock]], whose create-if-absent acquisition
  *     keeps its own link/rename protocol);
  *   - index reader leases ([[graft.ext.IndexStore.withLease]]);
  *   - the surface registry, clone provenance and the Takedown/Ingest
  *     intent payloads ([[graft.ext.Takedown]], [[graft.ext.IntentLog]]);
  *   - selection records ([[graft.ext.SelectionLog]]), the graph's
  *     rewire debt ([[graft.ext.KnnGraphIndex]]) and change-feed
  *     cursors ([[graft.ext.CorpusStore.tailInto]]).
  *
  * THE CONTRACT:
  *
  *   - [[read]] opens the file and maps `FileNotFoundException` to None,
  *     so no reader pays an existence probe, and a file that vanished
  *     between a listing and the open reads as absent. Text is UTF-8.
  *   - [[publish]] creates a file that must not exist yet. The bytes go
  *     to a hidden temp (`.<name>.tmp-<id>`) in the target's directory,
  *     which is then renamed into place, so a crash leaves either
  *     nothing visible or the whole file. Listers skip hidden names. A
  *     target that already exists fails by name (Hadoop's
  *     `FileAlreadyExistsException`) and the temp is deleted. HDFS's
  *     rename refuses an existing target by itself; on the local
  *     filesystem, whose rename would replace it, a probe before the
  *     rename decides, which is exact for every publisher that holds
  *     the root's writer lock.
  *   - [[replace]] is the one way to rewrite an existing file: the same
  *     temp, renamed over the target. On the local filesystem the rename
  *     replaces atomically, so the file is never absent or torn. Where a
  *     filesystem's rename refuses an existing target, the one fallback
  *     is delete-then-rename, whose gap reads as absent.
  *   - [[land]] renames a staged directory (a parquet intent payload)
  *     into place and fails by name when the rename does.
  *
  * Empty existence markers (`_incarnation/inc-*`, `done-*`, `_done`)
  * carry no bytes to tear and are created directly.
  */
private[graft] object ControlFile {

  def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** `prefix` plus 16 random hex digits: intent, selection and segment
    * names.
    */
  def newId(prefix: String): String =
    prefix + java.util.UUID.randomUUID().toString.replace("-", "").take(16)

  def read(fs: FileSystem, p: Path): Option[String] =
    try {
      val in = fs.open(p)
      try Some(new String(in.readAllBytes(), UTF_8)) finally in.close()
    } catch { case _: java.io.FileNotFoundException => None }

  def publish(fs: FileSystem, target: Path, body: String): Unit = {
    val tmp = stage(fs, target, body)
    if (fs.exists(target) || !fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      throw new FileAlreadyExistsException(
        s"could not publish $target: it already exists (a concurrent " +
          "writer won)")
    }
  }

  def replace(fs: FileSystem, target: Path, body: String): Unit = {
    val tmp = stage(fs, target, body)
    if (!fs.rename(tmp, target) &&
      !(fs.delete(target, false) && fs.rename(tmp, target))) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"could not replace $target")
    }
  }

  def land(fs: FileSystem, staged: Path, target: Path): Unit =
    if (!fs.rename(staged, target))
      throw new java.io.IOException(
        s"could not land $staged at $target (rename failed)")

  private def stage(fs: FileSystem, target: Path, body: String): Path = {
    val tmp = new Path(target.getParent, s".${target.getName}.tmp-${newId("")}")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8)) finally out.close()
    tmp
  }
}

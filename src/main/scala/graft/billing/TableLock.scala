package graft.billing

import graft.store.ControlFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** File-based writer mutex for a [[BillingStore]] root — the commit
  * protocol that makes concurrent mutators safe.
  *
  * Why it exists: `compactRaw` swaps day partitions via dynamic partition
  * overwrite. Correct single-writer, but an `appendDedup` racing the
  * compaction can land its file in a partition directory AFTER the
  * compactor read the partition and BEFORE it overwrites — the overwrite
  * then deletes the appended file and the rows are silently lost. The
  * reference never faces this because every writer funnels through one
  * shared embedded-DuckDB resource (pipeline/pipeline.py:179); a
  * parquet-directory store needs its own exclusion.
  *
  * Protocol: writers serialize on an atomically-created `_writer.lock`
  * file under the store root. The payload `pid host token ts` is written
  * FIRST to a hidden temp file and linked/renamed into place, so the
  * atomic create carries the full payload — a contender can never observe
  * a live holder's lock mid-write as an empty file. Steal rules, in order
  * of evidence strength:
  *   - pid provably dead, checked ONLY when the payload's host equals this
  *     host (a pid is meaningless in another machine's process table);
  *   - payload timestamp older than `staleMs` (cross-host crash fallback);
  *   - unreadable payload AND file modification time older than `staleMs`
  *     (never on payload alone — an unreadable-but-fresh file is treated
  *     as a live holder, not as breakage).
  * `release` deletes only when the on-disk token matches the one this
  * acquisition wrote — a holder that overran `staleMs` and was stolen
  * from cannot delete the thief's lock on its way out.
  *
  * Scale honesty: atomic create-if-absent holds on POSIX (hard link /
  * `O_CREAT|O_EXCL`) and HDFS (`rename` is namenode-atomic and fails onto
  * an existing destination). S3 has no atomic create — at real
  * object-store scale this lock must be replaced by a transactional table
  * format (Delta/Iceberg commit manifests) or an external lock service;
  * the store API shape stays the same, which is the point of centralizing
  * it here.
  */
object TableLock {

  /** Run `body` holding the store's writer lock. Reentrant per thread
    * (nested store operations — e.g. appendIncremental folding partials —
    * don't self-deadlock). Throws after `timeoutMs` of contention.
    */
  def withLock[A](spark: SparkSession, root: String,
      timeoutMs: Long = 60000L, staleMs: Long = 600000L)(body: => A): A = {
    val key = new Path(root).toUri.toString
    if (held.get.contains(key)) return body
    val token = acquire(spark, root, timeoutMs, staleMs)
    held.set(held.get + (key -> token))
    try body
    finally {
      held.set(held.get - key)
      release(spark, root, token)
    }
  }

  /** Hostname recorded in lock payloads; pid-liveness is only consulted
    * when the payload's host matches (a shared filesystem serves many
    * process tables). */
  private[billing] val localHost: String =
    scala.util.Try(java.net.InetAddress.getLocalHost.getHostName)
      .toOption.filter(_.nonEmpty).getOrElse("unknown-host")
      .replaceAll("\\s+", "_")

  private[billing] def payloadFor(token: String): String =
    s"${ProcessHandle.current().pid()} $localHost $token " +
      s"${System.currentTimeMillis()}"

  private val held: ThreadLocal[Map[String, String]] =
    ThreadLocal.withInitial(() => Map.empty[String, String])

  private def lockPath(root: String) = new Path(root, "_writer.lock")

  private def acquire(spark: SparkSession, root: String,
      timeoutMs: Long, staleMs: Long): String = {
    val token = java.util.UUID.randomUUID().toString
    val deadline = System.currentTimeMillis() + timeoutMs
    var backoff = 5L
    while (!tryAcquire(spark, root, staleMs, token)) {
      if (System.currentTimeMillis() > deadline)
        throw new java.util.concurrent.TimeoutException(
          s"writer lock on $root still held after ${timeoutMs} ms")
      Thread.sleep(backoff)
      backoff = math.min(backoff * 2, 100L)
    }
    token
  }

  /** One attempt. Returns false ONLY on contention (lock file already
    * exists); permission/transport IOExceptions propagate so a
    * misconfigured store fails fast instead of spinning into a
    * misleading "still held" timeout.
    */
  private def tryAcquire(spark: SparkSession, root: String,
      staleMs: Long, token: String): Boolean = {
    val p = lockPath(root)
    val fs = ControlFile.fs(spark, root)
    fs.mkdirs(new Path(root))
    val payload = payloadFor(token)
    val isLocal = Option(p.toUri.getScheme).forall(s =>
      s == "file" || s.isEmpty)
    val won =
      if (isLocal) tryAcquireLocal(p, payload)
      else tryAcquireHadoop(fs, p, root, payload, token)
    if (!won) breakIfStale(fs, p, staleMs)
    won
  }

  /** POSIX path: payload goes to a temp file first, then a hard link
    * (atomic, fails-if-exists) publishes it — create and payload are one
    * atomic step. Filesystems without hard links fall back to
    * `O_CREAT|O_EXCL`; the mtime guard in [[breakIfStale]] keeps the
    * resulting empty-file window safe from contenders.
    */
  private def tryAcquireLocal(p: Path, payload: String): Boolean = {
    val lockNio = java.nio.file.Paths.get(p.toUri.getPath)
    val dir = lockNio.getParent
    val tmp = java.nio.file.Files.createTempFile(dir, ".lock_", ".tmp")
    try {
      java.nio.file.Files.write(tmp, payload.getBytes("UTF-8"))
      try {
        java.nio.file.Files.createLink(lockNio, tmp)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          try {
            java.nio.file.Files.write(lockNio, payload.getBytes("UTF-8"),
              java.nio.file.StandardOpenOption.CREATE_NEW,
              java.nio.file.StandardOpenOption.WRITE)
            true
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => false
          }
      }
    } finally {
      java.nio.file.Files.deleteIfExists(tmp)
      ()
    }
  }

  /** Hadoop path: write payload to a token-named temp, then `rename` into
    * place — namenode-atomic on HDFS and fails (returns false) when the
    * destination exists, so create and payload are again one step.
    */
  private def tryAcquireHadoop(fs: org.apache.hadoop.fs.FileSystem,
      p: Path, root: String, payload: String, token: String): Boolean = {
    val tmp = new Path(root, s".lock_$token.tmp")
    val out = fs.create(tmp, true)
    try out.write(payload.getBytes("UTF-8")) finally out.close()
    val won =
      try fs.rename(tmp, p)
      catch {
        case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
      }
    if (!won) fs.delete(tmp, false)
    won
  }

  /** Steal a lock whose holder is provably gone. Evidence rules in the
    * class doc; best-effort — a failed read/stat means the holder
    * released between our check and read.
    */
  private def breakIfStale(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      staleMs: Long): Unit =
    try {
      val now = System.currentTimeMillis()
      val mtimeStale = fs.getFileStatus(p).getModificationTime <
        now - staleMs
      ControlFile.read(fs, p).map(_.trim.split("\\s+")).foreach {
        case Array(pid, host, _, ts) =>
          val deadHere = host == localHost && scala.util.Try(
            ProcessHandle.of(pid.trim.toLong).map(_.isAlive).orElse(false)
          ).toOption.exists(alive => !alive.booleanValue())
          val stale = scala.util.Try(ts.trim.toLong).toOption
            .exists(_ < now - staleMs)
          if (deadHere || stale) fs.delete(p, false)
        case _ =>
          // unreadable alone is not proof of death — require age too,
          // or the create→write window of a non-atomic filesystem would
          // let a contender delete a live holder's lock
          if (mtimeStale) fs.delete(p, false)
      }
      ()
    } catch { case _: java.io.IOException => () }

  /** Delete the lock only if it is still OURS (token match). A holder
    * that overran `staleMs` and lost the lock to a thief must not delete
    * the thief's lock — that would cascade to 3+ concurrent writers.
    */
  private def release(spark: SparkSession, root: String,
      token: String): Unit = {
    val p = lockPath(root)
    val fs = ControlFile.fs(spark, root)
    try {
      val ours = ControlFile.read(fs, p).exists(_.trim.split("\\s+") match {
        case Array(_, _, t, _) => t == token
        case _                 => false
      })
      if (ours) fs.delete(p, false)
      ()
    } catch { case _: java.io.IOException => () }
  }
}

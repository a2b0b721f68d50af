package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver-gate query: a Spark implementation plus (when SQL-expressible)
  * a DuckDB oracle statement over the same parquet tables. Keeping the pair
  * side by side is what keeps column names / rounding / ordering in sync —
  * the driver hash-compares values after sorting columns by name.
  */
final case class Gate(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None,
)

object Gate {
  /** Scratch dir for gate staging I/O (stream inputs, checkpoints, csv
    * round-trips), on tmpfs when available: this host's buffered-write
    * path throttles to ~40 MB/s (direct I/O does 330), and staging
    * through /tmp puts that throttle inside the timed window.
    */
  def tmpDir(prefix: String): String = pidDir("graft_gates") match {
    case Some(mine) =>
      java.nio.file.Files.createTempDirectory(mine.toPath, prefix).toString
    case None => java.nio.file.Files.createTempDirectory(prefix).toString
  }

  /** This JVM's `pid-N` namespace under `/dev/shm/<root>` (created here,
    * and the namespaces of finished JVMs swept), or None without tmpfs.
    * Namespacing by pid means a concurrent invocation can never have a
    * live dir — bucketed table paths, stream checkpoints, shuffle
    * scratch — deleted out from under it by another process's sweep.
    */
  private[graft] def pidDir(root: String): Option[java.io.File] =
    Some(new java.io.File("/dev/shm")).filter(_.isDirectory).map { shm =>
      val r = new java.io.File(shm, root)
      val mine = new java.io.File(r, s"pid-${ProcessHandle.current().pid()}")
      mine.mkdirs()
      sweepDeadPidDirs(r, mine)
      mine
    }

  /** Best-effort GC of scratch left by finished JVMs: only `pid-N` dirs
    * whose process is gone (or hour-stale unrecognized dirs from older
    * layouts) are swept — never the live run's own namespace.
    */
  private[graft] def sweepDeadPidDirs(root: java.io.File,
      mine: java.io.File): Unit = {
    val cutoff = System.currentTimeMillis() - 3600L * 1000
    val PidDir = "pid-(\\d+)".r
    Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName != mine.getName)
      .filter { f =>
        f.getName match {
          case PidDir(pid) =>
            val h = ProcessHandle.of(pid.toLong)
            !h.isPresent || !h.get().isAlive
          case _ => f.lastModified() < cutoff
        }
      }
      .foreach(f => scala.util.Try {
        import scala.reflect.io.Directory
        new Directory(f).deleteRecursively()
      })
  }

  private val memo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** This process's staging namespace (where [[tmpDir]] allocates). */
  private def stagingRoot: Option[java.io.File] = pidDir("graft_gates")

  /** Snapshot of the staging dirs that exist right now — take one
    * before running a gate, pass it to [[sweepNewStaging]] after.
    */
  def currentStaging(): Set[String] =
    stagingRoot.flatMap(r => Option(r.listFiles()))
      .getOrElse(Array.empty[java.io.File]).map(_.getName).toSet

  /** Delete staging allocated SINCE `before`, except build-once
    * [[memoDir]] artifacts (shared across gates by design). Bench calls
    * this after each gate: a finished gate's private index copies,
    * stream checkpoints, and scratch stores otherwise accumulate on
    * tmpfs for the rest of the run, where they compete with the page
    * cache and shuffle scratch and tax every later gate's timed window.
    */
  def sweepNewStaging(before: Set[String]): Unit = stagingRoot.foreach {
    root =>
      val keep = memo.values.toArray.map(v =>
        new java.io.File(v.toString).getName).toSet
      Option(root.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => !before.contains(f.getName) && !keep.contains(f.getName))
        .foreach(f => scala.util.Try {
          import scala.reflect.io.Directory
          new Directory(f).deleteRecursively()
        })
  }

  /** Build-once-per-JVM staging: `build` populates a fresh dir on the
    * first use of `key`; later calls reuse it. For gates whose oracle
    * pins BATCH semantics, not build cost — the build is priced
    * separately by its own gate (q_*_persist), so re-running it inside
    * every composition gate only inflates the suite. Callers that MUTATE
    * the artifact must [[copyDir]] it first.
    */
  def memoDir(key: String, prefix: String)(build: String => Unit): String =
    memo.computeIfAbsent(key, _ => {
      val d = tmpDir(prefix)
      build(d)
      d
    })

  /** Cheap recursive copy of a staged artifact into a fresh scratch dir —
    * how a mutating gate gets a private copy of a [[memoDir]] build
    * (tmpfs-to-tmpfs, orders of magnitude below rebuilding).
    */
  def copyDir(src: String, prefix: String): String = {
    val dst = tmpDir(prefix)
    copyInto(src, dst)
    dst
  }

  /** [[copyDir]] into an EXPLICIT destination — for staging a private
    * copy of one artifact INSIDE another [[memoDir]] (a memo body that
    * allocated its own scratch dir would see it swept by
    * [[sweepNewStaging]], which keeps only the memoized roots).
    */
  def copyInto(src: String, dst: String): Unit = {
    val s = java.nio.file.Paths.get(src)
    val t = java.nio.file.Paths.get(dst)
    val walk = java.nio.file.Files.walk(s)
    try walk.forEach { p =>
      val q = t.resolve(s.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p)) {
        java.nio.file.Files.createDirectories(q)
        ()
      } else {
        java.nio.file.Files.copy(p, q,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        ()
      }
    } finally walk.close()
  }

  /** Run `body` with session confs temporarily set, restoring (or
    * unsetting) each key afterwards — gates must not leak configuration
    * into their neighbors.
    */
  def withConfs[A](s: SparkSession, confs: (String, String)*)(body: => A): A = {
    // get(k) may THROW for unset keys without defaults, or return NULL
    // for optional confs (e.g. adaptive.autoBroadcastJoinThreshold) —
    // both mean "unset on exit"
    val prev = confs.map { case (k, _) =>
      k -> scala.util.Try(Option(s.conf.get(k))).toOption.flatten
    }
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** The `SPARK_GRAFT_ONLY` rule of every harness main: a comma-separated
    * token that exactly names a gate selects only that gate (so
    * `q_takedown` does not also select `q_takedown_store`); any other
    * token selects every gate whose name contains it. None selects all.
    */
  def select(only: Option[String]): String => Boolean = {
    val tokens = only.map(_.split(",").toSeq)
    val names = all.map(_.name).toSet
    name => tokens.forall(_.exists(t =>
      if (names(t)) name == t else name.contains(t)))
  }

  /** Registry assembled from the per-module gate lists. */
  def all: Seq[Gate] =
    queries.CoreQueries.gates ++
      queries.IngestQueries.gates ++
      queries.ExtQueries.gates ++
      queries.DataOpsQueries.gates ++
      queries.AnalyticsQueries.gates ++
      queries.ScaleQueries.gates ++
      queries.GraphTextQueries.gates ++
      queries.MaintainQueries.gates
}

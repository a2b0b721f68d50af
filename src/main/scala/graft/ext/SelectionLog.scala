package graft.ext

import graft.store.ControlFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The durable half of the lineage contract. [[Takedown.pinAll]] gives
  * a data-selection run a consistent cross-surface version vector and
  * [[Takedown.withPinned]] holds it against GC for the run's duration —
  * but the vector lived only in that process. A training-data audit
  * ("which corpus state produced this dataset, and does re-running the
  * selection reproduce it?") needs the vector to OUTLIVE the run:
  * recorded once, durably, next to the surfaces it describes, and
  * replayable months later by a different process.
  *
  * [[record]] writes one selection entry under `root/_selections/<sid>/`
  * — per surface: kind, path, pinned version, and the root's
  * INCARNATION id ([[IndexStore.incarnation]]). [[replay]] re-resolves
  * the entry, verifies each surface's incarnation still matches (a root
  * wiped and rebuilt out-of-band restarts its version numbering — the
  * recorded version would resolve against DIFFERENT content, the one
  * failure mode a version number alone cannot see), then runs the body
  * under per-surface TTL leases at the recorded versions, exactly as
  * [[Takedown.withPinned]] does for a live run. Surfaces answer via the
  * family `*At` readers, so a replayed selection reads byte-identical
  * state — or fails loudly naming the surface that can no longer honor
  * it (incarnation changed, or the version fell out of the GC retention
  * window).
  *
  * Scale shape: a selection entry is a few hundred bytes regardless of
  * corpus size; replay cost is the selection itself. Entries are data
  * (lineage metadata), never code, and the log dir is append-only —
  * each entry's record file is published atomically
  * ([[graft.store.ControlFile.publish]]), so an entry without one never
  * landed.
  */
object SelectionLog {

  import Takedown.Surface

  /** One recorded surface pin: where, which version, which incarnation. */
  final case class Pin(surface: Surface, version: Long, incarnation: String)

  private def selectionsDir(root: String) = new Path(root, "_selections")

  /** Publish a fresh `prefix` entry's record file `name`; returns its id. */
  private def publishEntry(spark: SparkSession, root: String, prefix: String,
      name: String, lines: Seq[String]): String = {
    val sid = ControlFile.newId(prefix)
    ControlFile.publish(ControlFile.fs(spark, root),
      new Path(selectionsDir(root), s"$sid/$name"), lines.mkString("\n"))
    sid
  }

  /** The record file `name` of entry `sid`; fails with `missing` if the
    * entry never landed.
    */
  private def readEntry(spark: SparkSession, root: String, sid: String,
      name: String, missing: => String): Seq[String] =
    ControlFile.read(ControlFile.fs(spark, root),
        new Path(selectionsDir(root), s"$sid/$name"))
      .map(_.trim.split("\n").toSeq)
      .getOrElse(throw new IllegalArgumentException(missing))

  /** Durably record a pinned vector (call INSIDE the lease scope that
    * produced it — [[run]] does — so no version can GC between pin and
    * record). Returns the selection id.
    */
  def record(spark: SparkSession, root: String,
      vector: Seq[(Surface, Long)]): String = {
    require(vector.nonEmpty, "cannot record an empty selection vector")
    publishEntry(spark, root, "s-", "vector", vector.map { case (s, v) =>
      s"${s.kind}|${s.path}|$v|${IndexStore.incarnation(spark, s.path)}"
    })
  }

  /** The recorded pins of one selection. Fails if the sid never landed. */
  def pins(spark: SparkSession, root: String, sid: String): Seq[Pin] =
    readEntry(spark, root, sid, "vector",
        s"no recorded selection '$sid' under $root").map { line =>
      line.split("\\|", 4) match {
        case Array(kind, path, v, inc) =>
          Pin(Surface(kind, path), v.toLong, inc)
        case _ => sys.error(s"malformed selection record line: $line")
      }
    }

  /** Landed selection ids, oldest-id first (a record a crash left
    * unpublished has no `vector` file and is invisible; `-staging` dirs
    * are the same leftover from older writers).
    */
  def list(spark: SparkSession, root: String): Seq[String] = {
    val fs = ControlFile.fs(spark, root)
    if (!fs.exists(selectionsDir(root))) return Seq.empty
    fs.listStatus(selectionsDir(root)).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("s-")
        && !st.getPath.getName.endsWith("-staging")
        && fs.exists(new Path(st.getPath, "vector")))
      .map(_.getPath.getName).sorted
  }

  /** Pin the corpus's surfaces at one commit point, durably record the
    * vector, and run the selection against it — the write path of the
    * lineage contract. The record lands while the leases are held, so
    * the recorded versions are guaranteed readable at least until the
    * body returns (and for the GC retention window after — audits that
    * outlive retention must re-lease promptly or accept a loud failure).
    */
  def run[A](spark: SparkSession, root: String,
      ttlMs: Long = 6 * 3600 * 1000L)(
      body: Seq[(Surface, Long)] => A): (String, A) =
    Takedown.withPinned(spark, root, ttlMs) { vector =>
      val sid = record(spark, root, vector)
      (sid, body(vector))
    }

  // ---- FEDERATED lineage: one record spanning several registries ----

  /** Pin EVERY root's surfaces (nested [[Takedown.withPinned]] scopes,
    * highest-precedence root first — the [[CorpusStore.readFederated]]
    * ordering) and run `body` with the per-root vectors while all
    * leases are held.
    */
  private def withPinnedAll[A](spark: SparkSession, roots: Seq[String],
      ttlMs: Long)(
      body: Seq[(String, Seq[(Surface, Long)])] => A): A = {
    def nest(rem: Seq[String],
        acc: Seq[(String, Seq[(Surface, Long)])]): A = rem match {
      case Seq() => body(acc)
      case r +: tail =>
        Takedown.withPinned(spark, r, ttlMs)(vector =>
          nest(tail, acc :+ (r -> vector)))
    }
    nest(roots, Seq.empty)
  }

  /** Durably record a FEDERATED selection — a selection made through
    * `readFederated`/`searchFederated` across several registry roots
    * (a corrections overlay over production) previously had no single
    * durable record: [[record]] pins ONE root, so the audit story
    * stopped at the federation boundary. One atomic entry (landed
    * under the FIRST root, the federation's precedence head) stores
    * every root's full vector — per pin: root index, kind, path,
    * version, incarnation — plus the root list itself, so
    * [[replayFederated]] can re-resolve the whole federation or fail
    * loudly naming the root/surface that no longer honors it. Call
    * inside the lease scope that produced the vectors ([[runFederated]]
    * does).
    */
  def recordFederated(spark: SparkSession,
      vectors: Seq[(String, Seq[(Surface, Long)])]): String = {
    require(vectors.nonEmpty, "cannot record an empty federated selection")
    require(vectors.forall(_._2.nonEmpty),
      "every federated root needs ≥ 1 pinned surface")
    val header = "roots|" + vectors.map(_._1).mkString("|")
    publishEntry(spark, vectors.head._1, "f-", "vector_fed",
      header +: vectors.zipWithIndex.flatMap {
        case ((_, vector), i) => vector.map { case (s, v) =>
          s"$i|${s.kind}|${s.path}|$v|" +
            IndexStore.incarnation(spark, s.path)
        }
      })
  }

  /** The recorded per-root pins of one federated selection, in the
    * recorded precedence order. Fails if the sid never landed under
    * `root` (the federation's first root) or is not federated.
    */
  def pinsFederated(spark: SparkSession, root: String,
      sid: String): Seq[(String, Seq[Pin])] = {
    val all = readEntry(spark, root, sid, "vector_fed",
      s"no recorded FEDERATED selection '$sid' under $root")
    val roots = all.head.split("\\|").toSeq match {
      case "roots" +: rs if rs.nonEmpty => rs
      case _ => sys.error(s"malformed federated selection header: ${all.head}")
    }
    val byRoot = all.tail.map { line =>
      line.split("\\|", 5) match {
        case Array(i, kind, path, v, inc) =>
          i.toInt -> Pin(Surface(kind, path), v.toLong, inc)
        case _ => sys.error(s"malformed federated selection line: $line")
      }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    roots.zipWithIndex.map { case (r, i) =>
      r -> byRoot.getOrElse(i,
        sys.error(s"federated selection $sid has no pins for root $r"))
    }
  }

  /** Pin EVERY federation root at one commit point each, durably
    * record the combined vector under the FIRST root, and run the
    * selection — [[run]] extended across the federation boundary. The
    * record lands while every root's leases are held, so all recorded
    * versions are readable at least until `body` returns.
    */
  def runFederated[A](spark: SparkSession, roots: Seq[String],
      ttlMs: Long = 6 * 3600 * 1000L)(
      body: Seq[(String, Seq[(Surface, Long)])] => A): (String, A) = {
    require(roots.nonEmpty, "runFederated needs ≥ 1 registry root")
    withPinnedAll(spark, roots, ttlMs) { vectors =>
      val sid = recordFederated(spark, vectors)
      (sid, body(vectors))
    }
  }

  /** Replay a recorded FEDERATED selection: verify every root's every
    * surface incarnation, then run `body` with the recorded per-root
    * vectors under TTL leases on ALL pinned versions. Fails loudly —
    * naming the registry root and surface — when any root was rebuilt
    * since the record or any recorded version fell out of retention;
    * a partial federation must never silently replay as a smaller one.
    */
  def replayFederated[A](spark: SparkSession, root: String, sid: String,
      ttlMs: Long = 6 * 3600 * 1000L)(
      body: Seq[(String, Seq[(Surface, Long)])] => A): A = {
    val byRoot = pinsFederated(spark, root, sid)
    byRoot.foreach { case (r, ps) => ps.foreach { p =>
      val cur = IndexStore.incarnation(spark, p.surface.path)
      require(cur == p.incarnation,
        s"federated selection $sid (registry $r) pinned " +
          s"${p.surface.kind}@${p.surface.path} at incarnation " +
          s"'${p.incarnation}' but the root is now '$cur' — it was " +
          "rebuilt since the selection; replay would read different data")
    }}
    val vectors = byRoot.map { case (r, ps) =>
      r -> ps.map(p => p.surface -> p.version)
    }
    val flat = byRoot.flatMap(_._2)
    def nest(rem: Seq[Pin]): A = rem match {
      case Seq() => body(vectors)
      case p +: tail =>
        IndexStore.withLease(spark, p.surface.path, p.version, ttlMs)(_ =>
          nest(tail))
    }
    nest(flat)
  }

  /** Replay a recorded selection: verify every surface's incarnation,
    * then run `body` with the recorded vector under per-surface TTL
    * leases at the recorded versions. Fails loudly — naming the surface
    * — when a root was rebuilt since the record (incarnation mismatch)
    * or a recorded version is no longer retained.
    */
  def replay[A](spark: SparkSession, root: String, sid: String,
      ttlMs: Long = 6 * 3600 * 1000L)(
      body: Seq[(Surface, Long)] => A): A = {
    val ps = pins(spark, root, sid)
    ps.foreach { p =>
      val cur = IndexStore.incarnation(spark, p.surface.path)
      require(cur == p.incarnation,
        s"selection $sid pinned ${p.surface.kind}@${p.surface.path} at " +
          s"incarnation '${p.incarnation}' but the root is now '$cur' — " +
          "it was rebuilt since the selection; replay would read " +
          "different data")
    }
    val vector = ps.map(p => p.surface -> p.version)
    def nest(rem: Seq[Pin]): A = rem match {
      case Seq() => body(vector)
      case p +: tail =>
        IndexStore.withLease(spark, p.surface.path, p.version, ttlMs)(_ =>
          nest(tail))
    }
    nest(ps)
  }
}

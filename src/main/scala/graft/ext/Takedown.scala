package graft.ext

import graft.store.ControlFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-surface takedown orchestration. A retraction at 100 TB must
  * hit the corpus's EVERY derived surface — BM25, dedup, literal, and
  * the ANN indexes — or a "deleted" document keeps answering queries
  * from whichever index the operator forgot. Each family already has
  * an idempotent delete; what was missing is the composition: a
  * registry of the surfaces derived from one corpus, and one
  * `retract(ids)` that drives them all and is safe to re-run after a
  * mid-flow crash.
  *
  * Mechanism — intent log, then apply ([[IntentLog]], shared with
  * [[Ingest]]):
  *
  *   1. [[retract]] first writes the id set DURABLY to
  *      `root/_retractions/<rid>/ids` (the intent). Only then are the
  *      registered surfaces applied, all concurrently, each leaving a
  *      `done-<surface>` marker.
  *   2. A crash between surfaces leaves a pending intent: [[resume]]
  *      re-applies every unfinished retraction, skipping surfaces
  *      whose marker exists. Markers are an optimization, not the
  *      safety: every per-surface delete judges presence against LIVE
  *      rows, so re-applying a completed surface is a no-op — replay
  *      converges to the same end state (TakedownSpec kills a run
  *      mid-flow and proves it).
  *
  * Scale shape: takedown batches are small by nature; each surface
  * delete is metadata-bounded (tombstones + negative partials — no
  * corpus rescan), and the registry/log are a handful of tiny files
  * per retraction. The corpus STORE OF RECORD registers like any
  * derived surface (kind `store`, [[CorpusStore]]), so one intent
  * covers the row and every index built from it; the billing fact
  * store keeps its own versioned delete ([[graft.billing.BillingStore
  * .applyChanges]]) for its composite-keyed CDC flow.
  */
object Takedown {

  /** A surface: `kind` selects the family ([[IndexFamily.apply]]),
    * `path` the root. The supported kinds are [[IndexFamily.all]]'s:
    * the document indexes, the vector indexes, and the corpus STORE OF
    * RECORD ([[CorpusStore]]) — so one durable intent retracts the
    * corpus row AND every derived index, the composition a GDPR flow
    * actually needs.
    */
  final case class Surface(kind: String, path: String) {
    def family: IndexFamily = IndexFamily(kind)
  }

  val kinds: Set[String] = IndexFamily.all.map(_.kind).toSet

  private def surfacesDir(root: String) = new Path(root, "_surfaces")

  private val log = new IntentLog("_retractions", "r-", "ids")(Seq(_))

  private[ext] def surfaceId(s: Surface): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s"${s.kind}|${s.path}".getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString

  /** Add a surface to the corpus's registry (idempotent — the entry
    * file is named by a content hash, so re-registration replaces it
    * with identical bytes; a crash leaves only a hidden temp).
    */
  def register(spark: SparkSession, root: String, surface: Surface): Unit = {
    IndexFamily(surface.kind) // an unknown kind fails here, by name
    ControlFile.replace(ControlFile.fs(spark, root),
      new Path(surfacesDir(root), s"s-${surfaceId(surface)}"),
      s"${surface.kind}\n${surface.path}")
  }

  /** The registered surfaces, in stable (kind, path) order. The
    * registry is outside input (hand-edited, or written by another
    * build), so every entry resolves its family here: an unknown kind
    * or a malformed entry fails by name before any caller lands an
    * intent it could never apply.
    */
  def surfaces(spark: SparkSession, root: String): Seq[Surface] = {
    val fs = ControlFile.fs(spark, root)
    if (!fs.exists(surfacesDir(root))) return Seq.empty
    fs.listStatus(surfacesDir(root)).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("s-"))
      .flatMap(p => ControlFile.read(fs, p).map(_.trim.split("\n", 2) match {
        case Array(kind, path) if path.trim.nonEmpty =>
          IndexFamily(kind) // an unknown kind fails here, by name
          Surface(kind, path)
        case _ => throw new IllegalArgumentException(
          s"malformed surface registry entry $p: expected 'kind\\npath'")
      }))
      .sortBy(s => (s.kind, s.path))
  }

  /** Retract `ids` from every registered surface. The intent commits
    * durably BEFORE any surface is touched, so a crash at any point
    * leaves either a no-op (intent never landed) or a pending
    * retraction [[resume]] completes. Returns the retraction id.
    * Re-running with the same ids is harmless: every surface delete is
    * live-presence-idempotent.
    */
  def retract(spark: SparkSession, root: String, ids: DataFrame,
      idCol: Column): String = {
    surfaces(spark, root) // an unknown registry kind fails before the intent
    val rid = log.stage(spark, root)(
      ids.select(idCol.as("id")).distinct().coalesce(1).write.parquet(_))
    applyIntent(spark, root, rid)
    rid
  }

  /** Apply one logged intent to the registered surfaces, concurrently,
    * up to `upTo` surfaces in registry order (the test hook that
    * simulates a mid-flow crash; production callers never pass it).
    */
  private[ext] def applyIntent(spark: SparkSession, root: String,
      rid: String, upTo: Int = Int.MaxValue): Unit = {
    val ids = spark.read.parquet(log.payloadPath(root, rid))
    log.apply(spark, root, rid, surfaces(spark, root), upTo)(s =>
      s.family.delete(spark, s.path, ids, col("id")))
  }

  /** Retraction ids whose `_done` marker has not landed — what a crash
    * left behind. Intents whose `ids` dir never landed are NOT pending:
    * no surface can have been touched for them.
    */
  def pending(spark: SparkSession, root: String): Seq[String] =
    log.pending(spark, root)

  /** Complete every pending retraction (crash recovery — call on
    * process start, or from a maintenance cron). Returns the ids it
    * finished.
    */
  def resume(spark: SparkSession, root: String): Seq[String] =
    log.resume(spark, root)(applyIntent(spark, root, _))

  /** A CONSISTENT version vector across every registered surface —
    * the cross-surface read snapshot a data-selection run needs: a
    * selection that reads BM25 + dedup + ANN at independently-resolved
    * versions can see one surface post-append and another pre-append;
    * this resolves all of them at one commit point.
    *
    * Protocol: sweep every surface's current manifest version, then
    * sweep again; accept only when two consecutive sweeps agree.
    * Versions are strictly monotone per root (manifest commits
    * serialize on the writer lock), so agreement proves NO surface
    * committed between the sweeps — the vector was the true global
    * state for that whole window, without holding any writer lock or
    * blocking any mutator. Bounded retries: under pathological
    * sustained write pressure this fails loudly rather than returning
    * a torn vector.
    *
    * The returned vector is only durable against GC for the retention
    * window — readers that outlive it use [[withPinned]], which holds
    * a TTL lease per surface.
    */
  def pinAll(spark: SparkSession, root: String,
      maxAttempts: Int = 16): Seq[(Surface, Long)] = {
    val ss = surfaces(spark, root)
    require(ss.nonEmpty, s"no surfaces registered under $root")
    def sweep(): Seq[(Surface, Long)] =
      ss.map(s => s -> IndexStore.snapshot(spark, s.path).version)
    var prev = sweep()
    var attempt = 1
    while (attempt < maxAttempts) {
      val cur = sweep()
      if (cur == prev) return cur
      prev = cur
      attempt += 1
    }
    sys.error(s"pinAll($root): no stable cross-surface version vector " +
      s"after $maxAttempts sweeps (sustained concurrent commits)")
  }

  /** Clone the WHOLE corpus — store of record plus every derived
    * index — to a new registry root at ONE consistent commit point:
    * the disaster-recovery / environment-promotion flow ("stand up a
    * staging copy of production as of now"). [[pinAll]] resolves the
    * cross-surface version vector, TTL leases hold every pinned
    * version against GC for the duration of the copy
    * ([[withPinned]]), and each surface deep-clones via
    * [[IndexStore.cloneAt]] into `dstRoot/<kind>-<surfaceId>`,
    * registering under the destination registry as it lands.
    *
    * The clone is a fully independent corpus: fresh incarnations,
    * fresh (version-1) histories, its own `_surfaces` registry —
    * appends, takedowns, and GC on either side never touch the other.
    * Pending retraction intents do NOT travel: the pinned vector is a
    * pure read snapshot, and an un-applied intent belongs to the
    * source's mutation stream, not the clone's state. Returns the
    * destination surfaces paired with the SOURCE versions they were
    * cloned from (the lineage record).
    */
  def cloneCorpus(spark: SparkSession, root: String,
      dstRoot: String): Seq[(Surface, Long)] =
    withPinned(spark, root) { vector =>
      val cloned = vector.map { case (s, v) =>
        val dst = s"$dstRoot/${s.kind}-${surfaceId(s)}"
        IndexStore.cloneAt(spark, s.path, dst, v)
        val ns = Surface(s.kind, dst)
        register(spark, dstRoot, ns)
        (s, v, ns)
      }
      // provenance record: which corpus, which per-surface versions AND
      // incarnations this clone was cut from — the "where did staging
      // come from" audit answer. One tiny published file, so a crash
      // mid-write never leaves a half-readable record.
      val lines = s"source\t$root" +: cloned.map { case (s, v, ns) =>
        s"${s.kind}\t${s.path}\t${IndexStore.incarnation(spark, s.path)}" +
          s"\t$v\t${ns.path}"
      }
      ControlFile.publish(ControlFile.fs(spark, dstRoot),
        new Path(dstRoot, "_provenance"), lines.mkString("\n") + "\n")
      cloned.map { case (_, v, ns) => ns -> v }
    }

  /** The clone's provenance record: (kind, source path, source
    * incarnation at clone time, source version cloned, destination
    * path), plus the source registry root under kind "source". Empty
    * for a root that is not a [[cloneCorpus]] destination.
    */
  def provenance(spark: SparkSession, dstRoot: String): Seq[Seq[String]] =
    ControlFile.read(ControlFile.fs(spark, dstRoot),
        new Path(dstRoot, "_provenance"))
      .fold(Seq.empty[Seq[String]])(
        _.trim.split("\n").toSeq.map(_.split("\t").toSeq))

  /** One maintenance sweep over every registered surface — the corpus
    * cron a production deployment runs: each surface whose segment
    * debt crossed `maxSegments` compacts (the family `maybeCompact`
    * policy), graph surfaces whose QUALITY debt crossed `maxGraphDebt`
    * re-wire ([[KnnGraphIndex.maybeRewire]] — compaction restores
    * layout but by contract leaves post-delete degrees below k and
    * insert-time hub elections delta-bounded; without this trigger
    * nothing ever called rewire and a long-lived insert/delete
    * workload's graph quality drifted unboundedly), then every surface
    * GCs to `retainVersions` — with versions under an active reader
    * lease ([[withPinned]], [[SelectionLog.replay]]) surviving
    * regardless, so maintenance can never pull a pinned selection's
    * segments out from under it. `maxIvfCell > 0` additionally arms
    * the TRAINED-family quality pass: ivf surfaces whose biggest live
    * cell crossed it rebalance ([[IvfIndex.maybeRebalance]]) and
    * ivfpq surfaces refresh their quantizers off the same gauge
    * ([[IvfPqIndex.maybeRetrain]] — residual coupling makes the full
    * refresh the composite's rebalance), with vectors resolved from
    * the registry's own store of record.
    * Returns the surfaces that compacted, rewired, or rebalanced.
    * Safe to run concurrently with readers (compaction is a pointer
    * swap) and crash-safe: every step is an ordinary manifest commit.
    * One failing surface does NOT abort the sweep — see the fault
    * isolation note in the body.
    */
  def maintain(spark: SparkSession, root: String, maxSegments: Int = 8,
      retainVersions: Int = 2, maxGraphDebt: Int = 8,
      maxIvfCell: Long = 0L): Seq[Surface] = {
    val ss = surfaces(spark, root)
    // Per-surface faults are ISOLATED: one corrupted index must not
    // block layout/quality/GC for every other registered surface (a
    // fleet-wide maintenance outage from one bad root). Each step runs
    // under Try; the sweep completes, GC still runs everywhere, and
    // the collected failures are re-thrown at the end naming every
    // failing surface — fail-loud, but only after the healthy fleet
    // was maintained.
    //
    // WITHIN each phase, surfaces run CONCURRENTLY on the bounded
    // commit pool (guide §2.6): each surface's op commits on its own
    // root under its own writer lock, so the only ordering was the
    // driver's loop — overlapping lets one surface's task tail
    // back-fill the next's. Phase ORDER is layout → quality → GC:
    // compact may clear part of the debt the quality passes gauge.
    val failures = scala.collection.mutable.ListBuffer[(Surface, Throwable)]()
    // runAll returns settled per-surface outcomes in order, so failure
    // collection stays on this thread — no shared mutation across the
    // pool
    def phase(surfs: Seq[Surface])(step: Surface => Boolean): Seq[Surface] =
      surfs.zip(IndexStore.runAll(surfs.map(s => () => step(s))))
        .filter {
          case (s, scala.util.Failure(e)) => failures += ((s, e)); false
          case (_, scala.util.Success(fired)) => fired
        }.map(_._1)
    val compacted = phase(ss)(s =>
      s.family.maybeCompact(spark, s.path, maxSegments))
    // quality pass AFTER the layout pass: compact may clear part of
    // the debt (the graph's full hub election), and rewire over a
    // scrubbed layout re-wires exactly the sub-k survivors. The cell
    // re-clustering needs vectors; the registry's OWN store of record
    // supplies them ([[vectorStore]] — resolved once, only when a cell
    // family asks), so the sweep stays self-contained. Off by default
    // (maxIvfCell = 0): the threshold is an operator SLO, not a
    // universal constant. Skipped with no error when no vector store
    // is registered — a rebalance without a corpus is impossible, and
    // the health row still shows the skew ([[IvfIndex.stats]]).
    lazy val embs = vectorStore(spark, ss)
    val repaired = phase(ss)(s => s.family.maintainQuality(spark, s.path,
      maxGraphDebt, maxIvfCell, embs))
    phase(ss) { s =>
      IndexStore.withLock(spark, s.path) {
        IndexStore.gc(spark, s.path, retainVersions)
      }
      false
    }
    if (failures.nonEmpty)
      throw new RuntimeException(
        s"maintain($root) completed with ${failures.size} failing " +
          "surface(s) — every other surface was maintained and GC'd: " +
          failures.map { case (s, e) =>
            s"${s.kind}@${s.path}: ${e.getMessage}"
          }.mkString("; "),
        failures.head._2)
    (compacted ++ repaired).distinct
  }

  /** The registry's vector source of truth: the first registered
    * `store` surface whose live rows carry (vec_id, embedding) — what
    * the trained-family quality passes re-cluster from. None when no
    * registered store is vector-shaped.
    */
  private def vectorStore(spark: SparkSession,
      ss: Seq[Surface]): Option[DataFrame] =
    ss.filter(_.family == CorpusStore).iterator.map { s =>
      scala.util.Try(CorpusStore.read(spark, s.path)).toOption
    }.collectFirst {
      case Some(df) if df.columns.contains("vec_id") &&
        df.columns.contains("embedding") =>
        df.select("vec_id", "embedding")
    }

  /** REGISTRY-WIDE health: one row per registered surface with the
    * manifest version, segment count (the compaction-debt gauge
    * [[maintain]] fires on), tombstone-segment count (un-applied
    * takedown debt), the family's quality-debt counters
    * ([[IndexFamily.debt]] — the graph's, what
    * [[KnnGraphIndex.maybeRewire]] fires on) and `codebook_age`
    * ([[IndexFamily.trainAge]] — the retrain drift gauge of the trained
    * codec families, 0 for every other kind). Metadata-bounded:
    * manifest lines + op tags + one sidecar read per surface, never a
    * relation scan — the dashboard an operator polls to decide when
    * the next [[maintain]] sweep is due. Per-surface DEEP health
    * (degree histograms and dangling edges; cell-occupancy envelopes;
    * posting-list envelopes) is the family [[IndexFamily.stats]].
    */
  def health(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    surfaces(spark, root).map { s =>
      val snap = IndexStore.snapshot(spark, s.path)
      val (gd, gt) = s.family.debt(spark, s.path)
      (s.kind, s.path, snap.version, snap.segmentCount,
        snap.segments("tombstones").size, gd, gt, s.family.trainAge(snap))
    }.toDF("kind", "path", "version", "segments", "tombstone_segments",
      "graph_debt_deliveries", "graph_debt_tombstones", "codebook_age")
  }

  /** Run `body` against a pinned cross-surface vector with a TTL
    * reader lease held on EVERY surface ([[IndexStore.withLease]]) —
    * later appends, compactions, and GC cannot drop any pinned
    * version's segments while `body` runs. Surfaces read their pinned
    * version via the family `*At` readers ([[TextSearch
    * .searchSavedAt]], [[CorpusStore.readAt]], [[DedupIndex]] /
    * vector-index `loadAt`), so the whole selection answers from one
    * commit point; recording the vector is the lineage contract — an
    * audit replays the same selection verbatim.
    */
  def withPinned[A](spark: SparkSession, root: String,
      ttlMs: Long = 6 * 3600 * 1000L)(
      body: Seq[(Surface, Long)] => A): A = {
    val vector = pinAll(spark, root)
    def nest(rem: Seq[(Surface, Long)]): A = rem match {
      case Seq() => body(vector)
      case (s, v) +: tail =>
        IndexStore.withLease(spark, s.path, v, ttlMs)(_ => nest(tail))
    }
    nest(vector)
  }
}

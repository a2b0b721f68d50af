package graft.ext

import graft.store.ControlFile
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.Bridge

/** Segment + manifest storage shared by the persisted index families
  * ([[IndexFamily.all]]): every mutation writes NEW files
  * into a fresh immutable `seg-*` directory and atomically publishes a
  * manifest version listing the index's current relation directories
  * ([[graft.store.VersionedManifest]] carries the protocol doc). What
  * this buys over the rename-swap these indexes used to run:
  *
  *   - readers pin one manifest version per logical operation
  *     ([[snapshot]]) and can never observe a half-swapped index — a
  *     search racing [[TextSearch.compact]] sees exactly the old or the
  *     new layout;
  *   - compaction is a manifest pointer swap plus deferred GC, not a
  *     directory rename (non-atomic on object stores, and the old
  *     rename left a no-index window between the two renames);
  *   - compacted-away segments survive until [[gc]] finds them
  *     unreferenced by the newest `retainVersions` manifests, so a
  *     pinned reader's files outlive the commit that dropped them.
  *
  * The layout this module owns (no other module names a segment path):
  *
  *   - `_manifest/` — the versioned line sets, each commit tagged with
  *     its op; a line is `seg-<16 hex>/<relation>`, relative to the root;
  *   - `seg-<16 hex>/<relation>/` — one parquet directory per relation a
  *     commit wrote; a snapshot resolves a relation to the union of its
  *     segment directories;
  *   - `seg-<16 hex>/idbloom-<relation>/` — the lazily built id-Bloom
  *     sidecars ([[IdBloom]]), never manifest lines;
  *   - `_incarnation/`, `_leases/` — root identity and reader leases
  *     (lease files are published and read through
  *     [[graft.store.ControlFile]], as are the manifest versions).
  *
  * THE COMMIT CONTRACT: every mutation of an index family is one
  * [[commit]]. It holds the root's writer lock
  * ([[graft.billing.TableLock]] — same discipline as the billing store,
  * reentrant, so manifest versions never race and append×compact cannot
  * lose a delivery), names a fresh segment, writes each [[Rel]] the
  * caller names into it (independent writes overlap; a tombstone set
  * and its scope sidecar are one [[tombstones]] step), and publishes
  * exactly the relations it wrote — on top of the current manifest
  * ([[Append]]) or as the root's entire content followed by [[gc]]
  * ([[Replace]]) — under a required op tag. Published = written: a
  * relation the writer did not produce fails the commit unpublished.
  */
object IndexStore {

  private val manifest = new graft.store.VersionedManifest("_manifest")

  /** One pinned manifest version: every relation this operation reads
    * resolves against the SAME line set, so a concurrent commit cannot
    * tear the view between two reads.
    */
  final case class Snapshot(spark: SparkSession, root: String,
      version: Long, lines: Seq[String]) {
    def dirs(relation: String): Seq[String] =
      lines.filter(_.endsWith(s"/$relation")).map(l => s"$root/$l")

    /** The relation as one DataFrame over its segment dirs; None when no
      * segment carries it (e.g. `tombstones` before any delete). Each
      * segment dir is read as its own root (partition columns like
      * `bucket=` discover per-dir — one multi-root read would fight
      * partition inference) and the branches union; a partition filter
      * still pushes into every branch's file index, so bucket pruning
      * survives the union.
      *
      * A snapshot pinned LONGER than the GC retention window can lose
      * its segments to a later commit's GC; resolution then fails with
      * a FileNotFoundException NAMING the pinned version (not a bare
      * missing-path error), so the caller can tell "my lease/retention
      * was too shallow" from data corruption. Readers that must outlive
      * the window hold [[IndexStore.withLease]] instead.
      */
    def read(relation: String): Option[DataFrame] =
      try readSegments(segments(relation), relation)
      catch {
        case e: Throwable if isMissingPath(e) =>
          throw new java.io.FileNotFoundException(
            s"index version $version at $root lost segments to GC while " +
              s"pinned (reader outlived the retention window; hold a " +
              s"lease via IndexStore.withLease): ${e.getMessage}")
      }

    private def isMissingPath(e: Throwable): Boolean =
      e != null && (e.isInstanceOf[java.io.FileNotFoundException] ||
        e.getMessage != null && (e.getMessage.contains("PATH_NOT_FOUND") ||
          e.getMessage.contains("Path does not exist")) ||
        isMissingPath(e.getCause))

    /** Distinct segment names carrying `relation` under this snapshot. */
    def segments(relation: String): Seq[String] =
      lines.filter(_.endsWith(s"/$relation")).map(_.split("/").head).distinct

    /** Every distinct segment this manifest references. */
    def allSegments: Seq[String] = lines.map(_.split("/").head).distinct

    /** The number of per-relation unions a reader pays — the
      * compaction-debt gauge.
      */
    def segmentCount: Int = allSegments.size

    /** [[read]] restricted to an explicit segment subset — the
      * building block of scope-aware tombstone masking.
      *
      * Segments union by name with missing columns null-filled — the
      * schema-evolution contract: a later delivery may ADD columns
      * (the store of record's reality at 100 TB — crawl metadata
      * accretes) and older segments read as null for them, no rewrite.
      * For the index families, whose relations are written by one code
      * path, the allowance is inert today and is the forward-compat
      * path for a format revision adding a column. Column ORDER
      * follows the first (manifest-sorted) segment with later
      * segments' new columns appended — select explicitly when order
      * matters.
      */
    def readSegments(segs: Seq[String], relation: String): Option[DataFrame] =
      segs match {
        case Seq() => None
        case ss => Some(ss.map(s => spark.read.parquet(s"$root/$s/$relation"))
          .reduce(_.unionByName(_, allowMissingColumns = true)))
      }
  }

  /** Read-through cache of each root's newest (incarnation, version,
    * lines): a streaming maintenance loop calls [[snapshot]] several
    * times per micro-batch (mutator + meta read + compaction policy),
    * and on an object store every uncached call is a LIST + GET
    * against the manifest dir. A cached entry is current iff its
    * ROOT INCARNATION marker still exists, its version file still
    * exists, and the NEXT version does not — three existence probes
    * (HEADs), valid because commits are strictly sequential under the
    * writer lock; same-JVM commits refresh the cache directly so the
    * common single-writer loop never even probes.
    *
    * The incarnation probe closes the root-recreation hazard the
    * version probes alone cannot see: a root deleted and rebuilt
    * OUT-OF-BAND restarts version numbering, so "v exists, v+1
    * doesn't" can hold for a cached entry whose lines name the OLD
    * incarnation's (deleted) segments. Each root is stamped with a
    * UUID marker file at its first commit ([[ensureIncarnation]]);
    * the marker name IS the identity, so validation is a HEAD of the
    * cached marker path — a recreated root carries a fresh marker and
    * the old entry invalidates. Bounded: cleared wholesale past 4096
    * roots (gate tmp dirs churn).
    */
  private val latestCache = new java.util.concurrent.ConcurrentHashMap[
    String, (String, Long, Seq[String])]()

  private def incarnationDir(root: String) = new Path(root, "_incarnation")

  /** The root's incarnation marker name, "" for a root with no marker
    * (pre-incarnation legacy, or never committed).
    */
  private def incarnationOf(fs: org.apache.hadoop.fs.FileSystem,
      root: String): String = {
    val dir = incarnationDir(root)
    if (!fs.exists(dir)) ""
    else fs.listStatus(dir).map(_.getPath.getName)
      .filter(_.startsWith("inc-")).sorted.headOption.getOrElse("")
  }

  /** Stamp the root's incarnation on first commit (caller holds the
    * writer lock, so the marker is created exactly once per root
    * lifetime — deleting the root deletes the marker, and a rebuild
    * gets a fresh identity).
    */
  private def ensureIncarnation(fs: org.apache.hadoop.fs.FileSystem,
      root: String): String = {
    val cur = incarnationOf(fs, root)
    if (cur.nonEmpty) cur
    else {
      val name = "inc-" +
        java.util.UUID.randomUUID().toString.replace("-", "")
      fs.mkdirs(incarnationDir(root))
      fs.create(new Path(incarnationDir(root), name), true).close()
      name
    }
  }

  /** The root's current incarnation id ("" for a never-committed or
    * pre-incarnation root) — the identity that distinguishes THIS index
    * from a same-versioned rebuild after an out-of-band wipe. Recorded
    * lineage ([[SelectionLog]]) stores it beside each pinned version so
    * an audit replay can refuse a root whose content history restarted.
    */
  def incarnation(spark: SparkSession, root: String): String =
    incarnationOf(ControlFile.fs(spark, root), root)

  private def incarnationValid(fs: org.apache.hadoop.fs.FileSystem,
      root: String, inc: String): Boolean =
    if (inc.isEmpty) !fs.exists(incarnationDir(root))
    else fs.exists(new Path(incarnationDir(root), inc))

  private def cachePut(root: String, inc: String, v: Long,
      lines: Seq[String]): Unit = {
    if (latestCache.size > 4096) latestCache.clear()
    latestCache.put(root, (inc, v, lines))
    ()
  }

  /** Per-(root, version) cache for tiny immutable metadata derived
    * from a snapshot (index geometry rows — gram width, bucket/band
    * counts): without it a streaming maintenance loop pays one Spark
    * job (a parquet `head()`) per micro-batch just to re-learn a
    * constant. Safe because a committed version's content is immutable
    * and versions are monotone per root (the manifest floor survives
    * pruning, so version numbers never restart while a root lives).
    */
  private val metaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String, Long), Any]()

  private[ext] def cachedMeta[A](snap: Snapshot)(load: => A): A = {
    if (metaCache.size > 4096) metaCache.clear()
    // keyed by the root's cached incarnation too, so a root rebuilt
    // out-of-band to the same version number cannot serve the old
    // incarnation's geometry (the incarnation is free here — snapshot()
    // just resolved it into latestCache)
    val inc = Option(latestCache.get(snap.root)).map(_._1).getOrElse("")
    metaCache.computeIfAbsent((snap.root, inc, snap.version), _ => load)
      .asInstanceOf[A]
  }

  def snapshot(spark: SparkSession, root: String): Snapshot = {
    val fs = ControlFile.fs(spark, root)
    val cached = Option(latestCache.get(root)).collect {
      case (inc, v, lines) if incarnationValid(fs, root, inc) &&
        !manifest.exists(fs, root, v + 1) &&
        manifest.exists(fs, root, v) => Snapshot(spark, root, v, lines)
    }
    cached.getOrElse {
      manifest.latest(fs, root) match {
        case Some((v, lines)) =>
          cachePut(root, incarnationOf(fs, root), v, lines)
          Snapshot(spark, root, v, lines)
        case None => throw new java.io.FileNotFoundException(
          s"no index manifest under $root — not an index root, or never built")
      }
    }
  }

  /** All manifest versions still retained under the root, oldest first
    * — the addressable time-travel window.
    */
  def versions(spark: SparkSession, root: String): Seq[Long] =
    manifest.versions(ControlFile.fs(spark, root), root)

  /** Pin a SPECIFIC retained version — time travel within the GC
    * retention window (same version-depth contract Delta/Iceberg make):
    * a reader holding version v sees exactly the index as committed at
    * v, because GC keeps every segment the newest `retainVersions`
    * manifests reference. The lineage use case: a data-selection run
    * records the index version it queried, and an audit re-runs the
    * same selection against that version verbatim even after later
    * appends/deletes landed.
    */
  def snapshotAt(spark: SparkSession, root: String, version: Long): Snapshot =
    manifest.filesAt(ControlFile.fs(spark, root), root, version) match {
      case Some(lines) => Snapshot(spark, root, version, lines)
      case None => throw new java.io.FileNotFoundException(
        s"index version $version at $root is not retained " +
          s"(have: ${versions(spark, root).mkString(",")})")
    }

  /** Clone ONE PINNED VERSION of an index to a fresh root — the
    * backup/restore and environment-promotion primitive (Delta CLONE's
    * deep form): the destination is a fully independent index whose
    * version-1 manifest lists exactly the pinned snapshot's lines, with
    * its OWN incarnation, history, and GC lifecycle. Later mutations on
    * either side are invisible to the other — no shared files.
    *
    * Cost is a file-level copy of the segment directories the pinned
    * manifest references (live data only — compacted-away and
    * GC-pending segments do not travel, and no query re-executes).
    * Segment dirs copy WHOLE, so intra-segment sidecars outside the
    * manifest's relation lines (id-Bloom filters, zone-map stats,
    * tombstone scopes) arrive too. On an object store each segment file
    * is a server-side copy; at 100 TB the copy parallelizes per file
    * and is bounded by live bytes, never by history length.
    *
    * The caller pins `version` (and holds a lease when the copy may
    * outlive the retention window — [[Takedown.cloneCorpus]] does);
    * `dstRoot` must not already be an index root. Returns the
    * destination's first committed version.
    */
  def cloneAt(spark: SparkSession, srcRoot: String, dstRoot: String,
      version: Long): Long = {
    val snap = snapshotAt(spark, srcRoot, version)
    val dfs = ControlFile.fs(spark, dstRoot)
    require(manifest.latest(dfs, dstRoot).isEmpty,
      s"cloneAt destination $dstRoot is already an index root")
    val sfs = ControlFile.fs(spark, srcRoot)
    val conf = spark.sessionState.newHadoopConf()
    snap.allSegments.foreach { seg =>
      val ok = org.apache.hadoop.fs.FileUtil.copy(
        sfs, new Path(srcRoot, seg), dfs, new Path(dstRoot, seg),
        false, true, conf)
      require(ok, s"cloneAt: copying segment $seg to $dstRoot failed")
    }
    withLock(spark, dstRoot) {
      val inc = ensureIncarnation(dfs, dstRoot)
      val v = manifest.commit(dfs, dstRoot, snap.lines, "clone")
      cachePut(dstRoot, inc, v, snap.lines)
      v
    }
  }

  /** [[Snapshot.segmentCount]] of the CURRENT manifest. */
  def segmentCount(spark: SparkSession, root: String): Int =
    snapshot(spark, root).segmentCount

  /** Run `body` holding the index root's writer mutex — every mutator
    * (build/append/delete/compact) goes through here.
    */
  def withLock[A](spark: SparkSession, root: String)(body: => A): A =
    graft.billing.TableLock.withLock(spark, root)(body)

  /** Bounded daemon pool for [[runAll]] — sized small: commit writes
    * are few and each is itself a parallel Spark job.
    */
  private lazy val writePool = {
    val tf = new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"index-commit-write-${n.incrementAndGet()}")
        t.setDaemon(true)
        t
      }
    }
    java.util.concurrent.Executors.newFixedThreadPool(4, tf)
  }

  /** `task` as pool work that runs under the SUBMITTING thread's Spark
    * local properties (job group, description, scheduler pool). A pool
    * thread copies them once, when it is created, so without this every
    * pooled job would carry the properties of whichever caller first
    * grew the pool.
    */
  private def pooled[A](task: () => A): java.util.concurrent.Callable[A] = {
    val props = Bridge.localProperties()
    () => Bridge.withLocalProperties(props)(task())
  }

  /** Run independent tasks CONCURRENTLY on the commit-write pool and
    * return each task's outcome IN ORDER (guide §2.6 — overlap
    * independent jobs: a segment's relation writes touch disjoint
    * directories, and whole-surface operations — registry sweeps,
    * multi-root retractions — touch different roots, each under its own
    * writer lock; overlapping them lets one job's task tail back-fill
    * the next's). [[commit]] rethrows the first failed write; surface
    * sweeps keep per-task fault isolation.
    *
    * REENTRANCY GUARD: a task already running ON the pool (a sweep's
    * surface task whose mutator commits) must not invokeAll back into
    * the same bounded pool — the inner batch would queue behind the
    * saturated outer one while the outer task blocks waiting for it, a
    * silent driver deadlock. Nested calls run inline instead; the OUTER
    * level still overlaps. A single task runs inline too.
    */
  private[graft] def runAll[A](tasks: Seq[() => A]): Seq[scala.util.Try[A]] =
    if (tasks.size <= 1 ||
      Thread.currentThread().getName.startsWith("index-commit-write-"))
      tasks.map(t => scala.util.Try(t()))
    else {
      import scala.jdk.CollectionConverters._
      writePool.invokeAll(tasks.map(t => pooled(() => scala.util.Try(t())))
        .asJava).asScala.toSeq.map(_.get())
    }

  /** One relation a [[commit]] writes: `write` fills the relation's
    * directory in the commit's fresh segment. A relation that reads
    * another of the same commit names it in `after` and is written once
    * that one has landed (the store's zone map reads its `rows`
    * footers).
    */
  final case class Rel(name: String, after: Option[String] = None)(
      val write: String => Unit)

  /** How a [[commit]] publishes its segment. */
  sealed trait Publish

  /** On top of the current manifest: deliveries, tombstones. */
  case object Append extends Publish

  /** As the root's ENTIRE content (build, compaction, retrain), then
    * [[gc]] keeping `retainVersions`.
    */
  final case class Replace(retainVersions: Int = 2) extends Publish

  /** THE segment commit every index-family mutation goes through. Under
    * the root's (reentrant) writer lock it names a fresh `seg-*`
    * directory, writes each of `rels` into `seg/<name>` — independent
    * writes overlap on the commit pool ([[runAll]]), an `after`
    * relation follows its dependency — then publishes exactly the
    * relations it wrote, tagged `op`, and returns the new version. A
    * relation the writer failed to produce fails the commit before
    * publish, so published = written; a write that throws leaves an
    * unreferenced segment [[gc]] reclaims.
    */
  private[ext] def commit(spark: SparkSession, root: String, op: String,
      publish: Publish)(rels: Rel*): Long = withLock(spark, root) {
    val names = rels.map(_.name)
    require(names.nonEmpty && names.distinct.size == names.size,
      s"commit to $root needs distinct relations, got ${names.mkString(",")}")
    val (first, late) = rels.partition(_.after.isEmpty)
    late.foreach(r => require(first.exists(f => r.after.contains(f.name)),
      s"relation ${r.name} of a commit to $root reads ${r.after.get}, " +
        "which the commit does not write first"))
    val seg = ControlFile.newId("seg-")
    Seq(first, late).foreach(wave => runAll(wave.map(r =>
      () => r.write(s"$root/$seg/${r.name}"))).foreach(_.get))
    val fs = ControlFile.fs(spark, root)
    names.foreach(r => require(fs.exists(new Path(s"$root/$seg/$r")),
      s"commit to $root wrote no $r"))
    val inc = ensureIncarnation(fs, root)
    val written = names.map(r => s"$seg/$r")
    val lines = (publish match {
      case Append =>
        manifest.latest(fs, root).map(_._2).getOrElse(Seq.empty) ++ written
      case Replace(_) => written
    }).sorted
    val v = manifest.commit(fs, root, lines, op)
    cachePut(root, inc, v, lines)
    publish match {
      case Replace(retain) => gc(spark, root, retain)
      case Append =>
    }
    v
  }

  /** The segment name and sibling relation directories of a relation
    * directory a [[Rel]] writer was handed.
    */
  private[ext] def segmentOf(dir: String): String =
    dir.split("/").init.last

  private[ext] def sibling(dir: String, relation: String): String =
    dir.substring(0, dir.lastIndexOf('/') + 1) + relation

  /** A tombstone set and its scope sidecar — the two relations of one
    * delete step. The sidecar holds rows (tomb_seg, seg) declaring that
    * the tombstones mask exactly `dataSegs`, the data segments present
    * at delete time. Segments appended LATER are not masked, which is
    * what lets a deleted id be re-ingested (delete-then-readd) and
    * become visible again without waiting for a compact — the same
    * sequence-number scoping Delta/Iceberg deletion vectors use.
    */
  private[ext] def tombstones(ids: DataFrame, dataSegs: Seq[String]): Seq[Rel] =
    Seq(Rel("tombstones")(ids.coalesce(1).write.parquet(_)),
      Rel("tombstone_scope") { dir =>
        import ids.sparkSession.implicits._
        dataSegs.toDF("seg")
          .withColumn("tomb_seg", org.apache.spark.sql.functions.lit(
            segmentOf(dir)))
          .coalesce(1).write.parquet(dir)
      })

  /** The op tag `version` committed with ("" pre-tag) — see
    * [[graft.store.VersionedManifest.opAt]].
    */
  def opAt(spark: SparkSession, root: String, version: Long): String =
    manifest.opAt(ControlFile.fs(spark, root), root, version)

  /** The shared tombstone-append ([[IndexFamily.delete]]): the requested
    * ids that have LIVE rows in `relation` append as one tombstone
    * segment, SCOPED to the data segments present at delete time
    * ([[tombstones]]). Readers
    * anti-join via [[liveRows]]; compaction applies them physically.
    * Judging presence against live rows (not raw rows) makes deletes
    * idempotent (a fully-masked id is a no-op) while still letting a
    * RE-ADDED id be deleted again — the old already-tombstoned
    * anti-join could not tell those cases apart. The presence judge is
    * [[liveRowsAmong]] (Bloom-sidecar segment pruning), so a
    * takedown-sized batch reads only the segments that may hold its
    * ids, never the whole relation; broadcast joins throughout.
    */
  private[ext] def tombstoneIds(spark: SparkSession, root: String,
      ids: DataFrame, idCol: org.apache.spark.sql.Column,
      relation: String, key: String = "vec_id"): Unit =
    withLock(spark, root) {
      val snap = snapshot(spark, root)
      val requested = ids.select(idCol.as(key)).distinct()
      val eff = requested.join(
        liveRowsAmong(snap, relation, key, requested).select(key),
        Seq(key), "left_semi")
      if (!eff.isEmpty) {
        commit(spark, root, "delete", Append)(
          tombstones(eff, snap.segments(relation)): _*)
        ()
      }
    }

  /** `relation` under `snap` with tombstoned keys excluded — the one
    * definition of "live" every reader and compactor of a keyed index
    * relation shares. Each tombstone segment masks only the data
    * segments in its scope sidecar (a pre-scoping tombstone masks
    * everything — the conservative legacy reading), so data segments
    * are grouped by their applicable tombstone set and each group
    * anti-joins only the tombstones that bind it. Typical shapes: no
    * tombstones → plain read; one delete over a settled index → one
    * group, one anti-join (the old plan exactly); delete-then-readd →
    * the re-added delivery lands in the unmasked group and is live.
    */
  private[ext] def liveRows(snap: Snapshot, relation: String,
      key: String = "vec_id", only: Option[Seq[String]] = None): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    // `only` restricts the DATA segments read (zone-map pruning —
    // [[CorpusStore.readRange]]); tombstones still apply in full, each
    // masking whatever kept segments its scope binds
    val dataSegs = only.getOrElse(snap.segments(relation))
    val tombSegs = snap.segments("tombstones")
    if (tombSegs.isEmpty)
      return snap.readSegments(dataSegs, relation).get
    val scoped: Map[String, Set[String]] =
      snap.read("tombstone_scope")
        .map(_.select("tomb_seg", "seg").collect()
          .groupBy(_.getString(0))
          .map { case (t, rs) => t -> rs.map(_.getString(1)).toSet })
        .getOrElse(Map.empty)
    val all = dataSegs.toSet
    val groups = dataSegs.groupBy(ds =>
      tombSegs.filter(ts => scoped.getOrElse(ts, all).contains(ds)))
    groups.map { case (ts, dss) =>
      val rows = snap.readSegments(dss, relation).get
      if (ts.isEmpty) rows
      else rows.join(
        broadcast(snap.readSegments(ts, "tombstones").get
          .select(key).distinct()),
        Seq(key), "left_anti")
    }.reduce(_ unionByName _)
  }

  /** [[liveRows]] restricted to the segments that may contain one of
    * `candidates` — the presence probe the ingest-admission and
    * takedown-delete paths share. Each data segment's id Bloom sidecar
    * ([[IdBloom]] — built lazily once per immutable segment) is tested
    * against the candidate batch and only possibly-matching segments
    * are read, so a probe costs O(segment blooms + matching segments)
    * instead of O(live ids) — for the token-linear relations (BM25
    * postings, literal grams) the difference between a takedown batch
    * reading two deliveries and reading the corpus. Value-identical to
    * `liveRows(...).join(candidates, semi)` by construction: bloom
    * false positives only add segments, false negatives are
    * impossible, and tombstone masking applies unreduced to whatever
    * is kept. Candidate batches beyond the broadcast-size cap fall
    * back to the unpruned read (a giant batch amortizes a full scan).
    * Callers still semi-join the result with their candidates — this
    * prunes SEGMENTS, not rows.
    */
  private[ext] def liveRowsAmong(snap: Snapshot, relation: String,
      key: String, candidates: DataFrame): DataFrame = {
    val dataSegs = snap.segments(relation)
    val hit = IdBloom.collectPairs(candidates, key) match {
      case None => dataSegs // over the probe cap: unpruned
      case Some(pairs) => IdBloom.candidateSegments(
        snap.spark, snap.root, dataSegs, relation, key, pairs)
    }
    if (hit.isEmpty && dataSegs.nonEmpty)
      // no segment can match: empty result, schema from one segment
      // (filter(false) folds to an empty scan — no data read)
      liveRows(snap, relation, key, only = Some(Seq(dataSegs.head)))
        .filter(org.apache.spark.sql.functions.lit(false))
    else liveRows(snap, relation, key, only = Some(hit))
  }

  /** Run `body` against `version` pinned under a READER LEASE: a
    * `_leases/` marker (version + expiry) that [[gc]] honors — the
    * leased version's manifest and segments survive any number of
    * later commits until the lease is released (or its TTL lapses:
    * leases expire so a crashed reader cannot block GC forever — the
    * same crash-safety trade Delta's checkpoint retention and
    * Iceberg's snapshot refs make). The lease is written under the
    * writer lock, so it cannot race a concurrent GC's lease listing;
    * a version already GC'd raises the usual not-retained error
    * before `body` runs.
    */
  def withLease[A](spark: SparkSession, root: String, version: Long,
      ttlMs: Long = 6 * 3600 * 1000L)(body: Snapshot => A): A = {
    val fs = ControlFile.fs(spark, root)
    val lease = new Path(new Path(root, "_leases"),
      "lease-" + java.util.UUID.randomUUID().toString.replace("-", ""))
    val snap = withLock(spark, root) {
      ControlFile.publish(fs, lease,
        s"$version ${System.currentTimeMillis() + ttlMs}")
      try snapshotAt(spark, root, version)
      catch { case e: Throwable => fs.delete(lease, false); throw e }
    }
    try body(snap) finally fs.delete(lease, false)
  }

  /** Versions protected by unexpired leases; expired lease files are
    * swept here (the only place that reads them). A lease released
    * between the listing and the read is skipped; hidden publish temps
    * are not leases.
    */
  private def leasedVersions(fs: org.apache.hadoop.fs.FileSystem,
      root: String): Set[Long] = {
    val dir = new Path(root, "_leases")
    if (!fs.exists(dir)) return Set.empty
    val now = System.currentTimeMillis()
    fs.listStatus(dir).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("lease-")).flatMap { p =>
        ControlFile.read(fs, p).map(_.trim.split("\\s+")).flatMap {
          case Array(v, exp) if exp.toLong > now => Some(v.toLong)
          case _ => fs.delete(p, false); None
        }
      }.toSet
  }

  /** Delete `seg-*` directories unreferenced by any KEPT manifest and
    * prune manifest history to exactly the kept set — the newest
    * `retainVersions` commits plus every version under an active
    * reader lease ([[withLease]]). Every manifest [[versions]]
    * advertises stays fully readable (its segments survive), so the
    * addressable time-travel window and the readable one are one
    * number. (The old behavior kept up to 8 manifests while GC'ing
    * all but the newest 2's segments: [[snapshotAt]] on versions 3–8
    * succeeded and then failed mid-scan on a deleted `seg-*` path.)
    * Only segment dirs are touched — never the manifest dir, the
    * lease dir, or any caller-owned sibling (e.g. a dedup index's
    * root-level `meta`).
    */
  def gc(spark: SparkSession, root: String, retainVersions: Int): Unit = {
    val fs = ControlFile.fs(spark, root)
    val vs = manifest.versions(fs, root)
    val keepVs = vs.takeRight(math.max(retainVersions, 1)).toSet ++
      leasedVersions(fs, root).filter(vs.contains)
    val keep = keepVs.flatMap(v =>
      manifest.filesAt(fs, root, v).getOrElse(Seq.empty))
      .map(_.split("/").head)
    val rootPath = new Path(root)
    if (fs.exists(rootPath)) {
      fs.listStatus(rootPath).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("seg-"))
        .filterNot(st => keep.contains(st.getPath.getName))
        .foreach(st => fs.delete(st.getPath, true))
    }
    manifest.pruneExcept(fs, root, keepVs)
  }
}

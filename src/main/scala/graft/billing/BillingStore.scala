package graft.billing

import graft.store.ControlFile
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet-backed storage for the billing data model — the Spark mapping of
  * the reference's six DuckDB tables (SURVEY §1.4, §2.1 S9-S13):
  * dedup-append for the fact table, overwrite for the rebuilt rollups
  * (DELETE+INSERT ≙ `mode("overwrite")`), schemas fixed by construction.
  *
  * Scale notes: the fact table is partitioned by (year, month, day) so
  * date-window queries prune at the file index, appends only touch the
  * partitions present in the batch, and the dedup anti-join reads only
  * those partitions back (the reference's UNIQUE key can only collide
  * within a day, because `timestamp` is part of the key).
  *
  * One table core: the store's seven tables (the fact table, the ledger,
  * the daily partials and the four rollups) are each a [[Table]], and
  * every read and commit goes through it. A read pins the newest
  * [[RawManifest]] version (or a given one); an empty manifest reads as
  * an empty relation with the table's schema. A write lands as new files
  * next to the old ones and one `op`-tagged manifest commit publishes it:
  * an append adds exactly the files it wrote, a replace also retires the
  * prior files of the day partitions (or the whole table) it rewrote.
  * The `_store` version vector is one more such manifest.
  *
  * Concurrency: every mutator serializes on the store's [[TableLock]] —
  * without it, an append racing `compactRaw`'s partition swap can have
  * its freshly-written file lost. Readers take no lock: a reader pins a
  * manifest instead of listing directories, and replaced files stay on
  * disk until the table's `gc` finds them unreferenced by the newest
  * `retainVersions` manifests — so a scan started just before a
  * compaction or CDC merge still reads a consistent snapshot. Proven by
  * BillingStoreConcurrencySpec: interleaved appends and compactions
  * lose zero rows, and a reader scanning THROUGH the interleaving only
  * ever observes consistent post-commit row counts.
  *
  * Retention: versions listed = versions readable. `gc` keeps the newest
  * `retainVersions` manifests with every file they name and prunes the
  * rest of the history, so every version [[rawVersions]] lists can be
  * read, and an older one throws `NoSuchElementException`.
  *
  * Manifest metadata cost is O(touched-partition files + manifest
  * length) per commit — driver-side, never a data scan. A pre-manifest
  * store (or one staged by a direct parquet write) reads via directory
  * listing until its first mutator commit migrates it.
  */
final case class BillingStore(root: String, retainVersions: Int = 2) {
  val rawPath = s"$root/raw_billing"
  val ledgerPath = s"$root/processed_files"
  val dailyPartialsPath = s"$root/daily_partials"
  def aggPath(name: String) = s"$root/${name}_aggs"

  private[billing] type Day = (Int, Int, Int)

  private val dayCols = Seq("year", "month", "day")

  /** One manifested table under `root/key`. `schemaOf` gives its rows as
    * written; reads put the partition columns last and make every column
    * nullable, as Spark's parquet source does. `stats` marks the fact
    * table, whose commits carry a [[FileStats]] sidecar and whose reads
    * go through [[ManifestFileIndex]].
    */
  private[billing] final class Table(val key: String, partitioned: Boolean,
      stats: Boolean = false)(schemaOf: SparkSession => StructType) {
    val path = s"$root/$key"

    def fs(spark: SparkSession): FileSystem = ControlFile.fs(spark, path)

    def latest(spark: SparkSession): Option[(Long, Seq[String])] =
      RawManifest.latest(fs(spark), path)

    def versions(spark: SparkSession): Seq[Long] =
      RawManifest.versions(fs(spark), path)

    /** The files of a retained version; throws for one gc pruned. */
    def filesAt(spark: SparkSession, version: Long): Seq[String] =
      RawManifest.filesAt(fs(spark), path, version).getOrElse(
        throw new java.util.NoSuchElementException(
          s"manifest v$version of $key not retained (have: " +
            s"${versions(spark).mkString(",")})"))

    private def schema(spark: SparkSession): StructType = {
      val (parts, data) = schemaOf(spark).fields
        .partition(f => partitioned && dayCols.contains(f.name))
      StructType((data ++ parts).map(_.copy(nullable = true)))
    }

    private def empty(spark: SparkSession): DataFrame =
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema(spark))

    /** The table at `version`, or at its newest manifest. With no
      * manifest at all it is read by directory listing.
      */
    def read(spark: SparkSession, version: Option[Long] = None): DataFrame =
      version.map(v => v -> filesAt(spark, v)).orElse(latest(spark)) match {
        case Some((v, files)) => scan(spark, v, files)
        case None if exists(spark, path) =>
          spark.read.schema(schema(spark)).parquet(path)
        case None => empty(spark)
      }

    /** A relation over `files` of manifest `version`. */
    def scan(spark: SparkSession, version: Long,
        files: Seq[String]): DataFrame =
      if (files.isEmpty) empty(spark)
      else if (stats) manifestRead(spark, version, files)
      else spark.read.schema(schema(spark)).option("basePath", path)
        .parquet(files.map(f => s"$path/$f"): _*)

    /** Current file set: newest manifest, else (pre-manifest table) the
      * on-disk listing. Callers hold the writer lock.
      */
    def current(spark: SparkSession): Set[String] =
      latest(spark).map(_._2.toSet).getOrElse(listRel(fs(spark), "").toSet)

    /** Relative data-file paths under `sub` (or the whole table when
      * `sub` is empty), hidden files/dirs excluded.
      */
    private def listRel(fs: FileSystem, sub: String): Seq[String] = {
      val base = if (sub.isEmpty) new Path(path) else new Path(path, sub)
      if (!fs.exists(base)) Seq.empty
      else {
        val rootUri = new Path(path).toUri.getPath
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        val it = fs.listFiles(base, true)
        while (it.hasNext) {
          val rel = it.next().getPath.toUri.getPath.stripPrefix(rootUri)
            .stripPrefix("/")
          if (!rel.split("/").exists(isHidden)) out += rel
        }
        out.toSeq
      }
    }

    /** Commit `files` as the next version, tagged `op`. The fact table's
      * stats sidecar rides along: stats of files in the previous sidecar
      * are carried forward, and only new files are scanned (one
      * column-pruned job). Caller holds the writer lock.
      */
    def publish(spark: SparkSession, files: Set[String], op: String): Unit = {
      val fs = this.fs(spark)
      val sidecar = Option.when(stats) {
        val prev = FileStats.readLatest(fs, path)
        val fresh = FileStats.compute(spark, path,
          files.toSeq.filterNot(prev.contains))
        FileStats.fillSizes(fs, path, files.iterator.map(f =>
          f -> prev.get(f).orElse(fresh.get(f))
            .getOrElse(FileStats.FileStat(None, None))).toMap)
      }
      val v = RawManifest.commit(fs, path, files.toSeq, op)
      sidecar.foreach(FileStats.write(fs, path, v, _))
    }

    /** Publish `files` as the whole next version, then reclaim what no
      * retained version references any more.
      */
    def replaceWith(spark: SparkSession, files: Set[String],
        op: String): Unit = {
      publish(spark, files, op)
      gc(spark, retainVersions)
      spark.catalog.refreshByPath(path)
    }

    /** Append `out`: the next version is the current one plus exactly the
      * files this write created in the `days` partitions (none written,
      * nothing published). Appends retire no file, so no data gc — but
      * manifest history (and its stats sidecars) is still cut to the
      * newest `retainVersions`, or an append-only table would keep every
      * version it ever committed.
      */
    def append(spark: SparkSession, days: Seq[Day], op: String)(
        out: DataFrame): Unit = {
      val added = write(spark, days.map(dayDir), out)._2
      if (added.nonEmpty) {
        publish(spark, current(spark) ++ added, op)
        RawManifest.pruneHistory(fs(spark), path, keep = retainVersions)
      }
    }

    /** Day-scoped replace: write `out` next to the old files, then swap
      * exactly the `days` partitions' files for the written ones in one
      * commit — a reader mid-swap keeps its pinned snapshot.
      */
    def replaceDays(spark: SparkSession, days: Seq[Day], op: String)(
        out: DataFrame): Unit = {
      val (before, added) = write(spark, days.map(dayDir), out)
      replaceWith(spark, current(spark) -- before ++ added, op)
    }

    /** Whole-table replace: the write's files become the entire next
      * version (full-refresh semantics).
      */
    def replaceAll(spark: SparkSession, op: String)(out: DataFrame): Unit =
      replaceWith(spark, write(spark, Seq(""), out)._2, op)

    /** Append-write `out` and return the on-disk files under `dirs` from
      * before the write and those it added. Disk, not manifest: retention
      * keeps RETIRED files on disk, and a commit that re-listed
      * directories wholesale would resurrect them into the manifest
      * (doubled rows; caught by the concurrency spec).
      */
    private def write(spark: SparkSession, dirs: Seq[String],
        out: DataFrame): (Set[String], Set[String]) = {
      val fs = this.fs(spark)
      def under = dirs.flatMap(listRel(fs, _)).toSet
      val before = under
      val w = out.write.mode("append")
      (if (partitioned) w.partitionBy(dayCols: _*) else w).parquet(path)
      (before, under -- before)
    }

    /** Physically delete data files no manifest in the newest `retain`
      * versions references, drop emptied partition directories, and prune
      * manifest history to exactly those versions (their stats sidecars
      * go with them) — so every listed version stays readable. Returns
      * the number of files reclaimed. Caller holds the writer lock.
      */
    def gc(spark: SparkSession, retain: Int): Long = {
      val fs = this.fs(spark)
      if (latest(spark).isEmpty) 0L
      else {
        val refs = RawManifest.referenced(fs, path, retain)
        val doomed = listRel(fs, "").filterNot(refs)
        doomed.foreach(f => fs.delete(new Path(s"$path/$f"), false))
        dropEmptyPartitionDirs(fs, new Path(path))
        RawManifest.pruneHistory(fs, path, keep = retain)
        if (doomed.nonEmpty) spark.catalog.refreshByPath(path)
        doomed.length.toLong
      }
    }
  }

  private def emptyBilling(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schemas.billing)

  private[billing] val rawTable =
    new Table("raw_billing", partitioned = true, stats = true)(
      _ => Schemas.billing)
  private[billing] val ledgerTable =
    new Table("processed_files", partitioned = false)(
      _ => Schemas.processedFiles)
  private[billing] val partialsTable =
    new Table("daily_partials", partitioned = true)(
      s => Aggregates.dailyPartial(emptyBilling(s)).schema)

  /** The four rollups in rebuild order, each with its query over raw;
    * daily_aggs is day-partitioned so refreshDailyForDays can swap single
    * partitions (and day-window reads prune).
    */
  private val rollups: Seq[(Table, DataFrame => DataFrame)] =
    Seq[(String, DataFrame => DataFrame)]("daily" -> Aggregates.daily,
      "user" -> Aggregates.user, "service" -> Aggregates.service,
      "region" -> Aggregates.region).map { case (n, q) =>
      new Table(s"${n}_aggs", partitioned = n == "daily")(
        s => q(emptyBilling(s)).schema) -> q
    }

  private[billing] def aggTable(name: String): Table =
    rollups.map(_._1).find(_.key == s"${name}_aggs").getOrElse(
      throw new java.util.NoSuchElementException(s"no rollup $name"))

  /** Every data table, in `_store` vector order. */
  private[billing] val tables: Seq[Table] =
    Seq(rawTable, ledgerTable, partialsTable) ++ rollups.map(_._1)

  /** The store-level version vector: one `key=version` line per table,
    * committed and pruned by the same core as the data tables (its lines
    * name versions, not files, so its `gc` reclaims nothing on disk).
    */
  private val storeVector =
    new Table("_store", partitioned = false)(_ => StructType(Nil))

  private def exists(spark: SparkSession, path: String): Boolean =
    ControlFile.fs(spark, path).exists(new Path(path))

  /** The fact table, pinned to the newest manifest snapshot (falls back
    * to directory listing for a store no mutator has committed yet).
    * The returned frame keeps reading that snapshot's files even while
    * later commits land — consistent up to `retainVersions` subsequent
    * commits (then GC may reclaim its files).
    */
  def raw(spark: SparkSession): DataFrame = rawTable.read(spark)

  /** Relation over one manifest snapshot through [[ManifestFileIndex]]:
    * the file list is the manifest's, and Catalyst's own pushed filters
    * drive partition pruning AND [[FileStats]] skipping at plan time —
    * every reader of [[raw]] gets file skipping from its own
    * predicates, not just the dedicated range/point APIs.
    */
  private def manifestRead(spark: SparkSession, version: Long,
      files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val stats = FileStats.read(rawTable.fs(spark), rawPath, version)
    val partSchema = StructType(Schemas.billing.fields.takeRight(3))
    val index = new ManifestFileIndex(spark, new Path(rawPath), files,
      stats, partSchema)
    val rel = HadoopFsRelation(index, partSchema,
      Schemas.billingNoPartitionCols, None, new ParquetFileFormat(),
      Map.empty)(spark)
    spark.baseRelationToDataFrame(rel)
  }

  /** Retained manifest versions (oldest first) — the store's queryable
    * history window: every one of them is readable through [[rawAt]].
    */
  def rawVersions(spark: SparkSession): Seq[Long] = rawTable.versions(spark)

  /** Time travel: the fact table AS OF a retained manifest version —
    * the same query-an-old-snapshot contract Delta/Iceberg expose,
    * bounded here by the retention depth instead of a wall-clock
    * window. Throws for a version GC already pruned; a caller wanting
    * deeper history raises `retainVersions`.
    */
  def rawAt(spark: SparkSession, version: Long): DataFrame =
    rawTable.read(spark, Some(version))

  /** Event-time range read `[lo, hi)` with file-level data skipping:
    * the newest manifest's files are pruned by the [[FileStats]]
    * sidecar BEFORE Spark plans the scan, so a selective time window
    * over a long history schedules tasks only for files whose
    * [min,max] intersects the range — finer than hive partition
    * pruning whenever a day partition holds many append slices.
    * Correctness never depends on the stats: the range filter is
    * applied on top regardless, files without stats are kept, and a
    * pre-manifest store falls back to a plain filtered [[raw]] scan.
    */
  def rawBetween(spark: SparkSession, lo: java.time.Instant,
      hi: java.time.Instant): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // a plain filter: [[ManifestFileIndex]] receives it as a pushed
    // data filter and skips files at plan time
    raw(spark).filter(
      col("timestamp") >= lit(java.sql.Timestamp.from(lo)) &&
      col("timestamp") < lit(java.sql.Timestamp.from(hi)))
  }

  /** (files kept for `[lo, hi)`, manifest file count) of the newest
    * snapshot — None for a pre-manifest store. Exposed so specs and
    * gates can pin that skipping actually pruned the file set; readers
    * use [[rawBetween]].
    */
  private[graft] def filesForRange(spark: SparkSession,
      lo: java.time.Instant, hi: java.time.Instant):
      Option[(Seq[String], Int)] = {
    val (loU, hiU) = (micros(lo), micros(hi))
    filesKept(spark)(_.forall(_.ts match {
      case Some((mn, mx)) => mx >= loU && mn < hiU
      case None           => false // all-null ts: range-unmatchable
    }))
  }

  /** (files kept for a `user_id` probe, manifest file count) — None for
    * a pre-manifest store. Exposed for specs/gates to pin the pruning;
    * readers use [[rawForUser]].
    */
  private[graft] def filesForUser(spark: SparkSession,
      userId: String): Option[(Seq[String], Int)] =
    filesKept(spark)(_.forall(_.mayContain(userId)))

  /** The newest snapshot's files whose stats `keep` (a file without
    * stats gets None), with the snapshot's file count.
    */
  private def filesKept(spark: SparkSession)(
      keep: Option[FileStats.FileStat] => Boolean): Option[(Seq[String], Int)] =
    rawTable.latest(spark).map { case (v, files) =>
      val stats = FileStats.read(rawTable.fs(spark), rawPath, v)
      (files.filter(f => keep(stats.get(f))), files.size)
    }

  /** Point-lookup read `user_id = userId` with bloom file skipping: the
    * newest manifest's files are pruned by the [[FileStats]] bloom
    * sidecar before Spark plans the scan — an equality probe over a
    * long history touches only the files that may contain the key
    * (~1% false-positive extras). Same correctness contract as
    * [[rawBetween]]: the equality filter applies regardless, files
    * without stats are kept, a pre-manifest store falls back to a
    * plain filtered [[raw]] scan.
    */
  def rawForUser(spark: SparkSession, userId: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    // a plain filter: the index's bloom probe does the skipping
    raw(spark).filter(col("user_id") === lit(userId))
  }

  private def micros(i: java.time.Instant): Long =
    i.getEpochSecond * 1000000L + i.getNano / 1000L

  /** Incremental scan: the rows in files ADDED to the manifest after
    * `sinceVersion` — the Iceberg incremental-append / Delta CDF read
    * shape. A downstream consumer (rollup maintenance, export, index
    * append) processes each commit's delta instead of rescanning
    * history: cost is O(new files), independent of table size.
    *
    * Exact new-row semantics hold while the window contains only
    * APPEND commits (the store's normal ingest path). A compaction or
    * CDC merge inside the window rewrites surviving rows into new
    * files, so those rows are re-emitted — consumers needing exactly-
    * once either anti-join on [[Schemas.dedupKey]] (what
    * [[appendDedup]] itself does) or consume between every commit.
    * Throws for a version GC already dropped (raise `retainVersions`
    * for deeper consumers, exactly as with [[rawAt]]).
    */
  def rawChanges(spark: SparkSession, sinceVersion: Long): DataFrame = {
    val (latest, files) = rawTable.latest(spark).getOrElse(
      throw new java.util.NoSuchElementException(
        "no manifest committed yet"))
    val base = rawTable.filesAt(spark, sinceVersion).toSet
    rawTable.scan(spark, latest, files.filterNot(base))
  }

  // ---- cross-table consistent snapshots --------------------------------

  /** Publish the store-level version vector — one `key=version` line
    * per manifested table, committed (as its own [[RawManifest]] under
    * `_store/`, tagged with the mutator's `op`) AFTER a mutator's
    * per-table commits, under the writer lock. [[snapshot]] pins every
    * table at one such vector, giving readers cross-TABLE consistency on
    * top of the per-table snapshot isolation: the reference gets this
    * for free from its single embedded DuckDB file; a multi-table
    * parquet store has to commit it. No-op when the vector is unchanged.
    */
  private def commitStoreVersion(spark: SparkSession, op: String): Unit = {
    val lines = tables.flatMap(t =>
      t.latest(spark).map { case (v, _) => s"${t.key}=$v" }).toSet
    if (lines.nonEmpty &&
        !storeVector.latest(spark).map(_._2.toSet).contains(lines)) {
      storeVector.publish(spark, lines, op)
      storeVector.gc(spark, retainVersions)
    }
  }

  /** A cross-table consistent view: every table pinned to the versions
    * one serialized mutator history committed TOGETHER. A plain
    * `raw()`+`dailyFromPartials()` pair can straddle a mutator (raw
    * already appended, partials not yet folded); a snapshot cannot.
    * Readability window matches [[rawAt]]: `retainVersions` subsequent
    * commits (raise it for long-running consumers). A pre-snapshot
    * store (no vector committed yet) falls back to live reads.
    */
  def snapshot(spark: SparkSession): StoreSnapshot =
    StoreSnapshot(this, storeVector.latest(spark).map(_._2).getOrElse(Nil)
      .flatMap { line =>
        line.split("=") match {
          case Array(n, v) => Some(n -> v.toLong)
          case _           => None
        }
      }.toMap)

  private def isHidden(name: String): Boolean =
    name.startsWith("_") || name.startsWith(".")

  private def dayDir(day: Day) = s"year=${day._1}/month=${day._2}/day=${day._3}"

  private val dayDirRe = "^year=(\\d+)/month=(\\d+)/day=(\\d+)/".r

  /** (year, month, day) encoded in a manifest-relative data-file path —
    * the partition layout names every file's day, so partition-level
    * bookkeeping (file counts, partition lists) reads zero data.
    */
  private def dayOf(rel: String): Option[Day] =
    dayDirRe.findFirstMatchIn(rel).map(m =>
      (m.group(1).toInt, m.group(2).toInt, m.group(3).toInt))

  /** `frame`'s distinct (year, month, day) tuples — bounded driver-side
    * metadata, reused for the prune and the commit's touched-partition
    * listing — with `table`'s stored rows of those days.
    */
  private def touched(spark: SparkSession, frame: DataFrame,
      table: Table): (Seq[Day], DataFrame) = {
    val days = frame.select(dayCols.map(frame.col): _*).distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2))).toSeq
    (days, storedOn(spark, table, days))
  }

  /** `table`'s stored rows of `dayTuples`: the table read joined with
    * the broadcast day list, so at 100 TB a merge probes days, not the
    * whole history. A table with no directory yet is returned unjoined:
    * it has no rows to prune.
    */
  private def storedOn(spark: SparkSession, table: Table,
      dayTuples: Seq[Day]): DataFrame =
    if (!exists(spark, table.path)) table.read(spark)
    else {
      import spark.implicits._
      val days = dayTuples.toDF(dayCols: _*)
      table.read(spark).join(org.apache.spark.sql.functions.broadcast(days),
        dayCols)
    }

  /** Remove partition directories left with no visible content (depth-
    * first); the table root and hidden dirs (`_raw_manifest`) survive.
    */
  private def dropEmptyPartitionDirs(fs: FileSystem, root: Path): Unit = {
    def sweep(p: Path, isRoot: Boolean): Boolean = {
      val kids = fs.listStatus(p)
      val visible = kids.filterNot(k => isHidden(k.getPath.getName))
      val remaining = visible.count { k =>
        if (k.isDirectory) !sweep(k.getPath, isRoot = false)
        else true
      }
      val hasHidden = kids.length > visible.length
      if (!isRoot && remaining == 0 && !hasHidden) fs.delete(p, true)
      else false
    }
    if (fs.exists(root)) { sweep(root, isRoot = true); () }
  }

  /** The fact table's `gc` under the writer lock: returns the number of
    * files reclaimed. Runs automatically after every file-dropping
    * commit; tests call it with `retain = 1` to assert immediate disk
    * state.
    */
  def gcRaw(spark: SparkSession, retain: Int = retainVersions): Long =
    TableLock.withLock(spark, root) { rawTable.gc(spark, retain) }

  def ledger(spark: SparkSession): DataFrame = ledgerTable.read(spark)

  /** J1 + S9: idempotent append — only rows whose natural key is absent.
    * The existing side is pruned to the staged batch's (year,month,day)
    * partitions before the anti-join: at 100 TB the join probes days, not
    * the whole history.
    */
  def appendDedup(spark: SparkSession, staged: DataFrame): Long =
      TableLock.withLock(spark, root) {
    val batch = Ingest.dedupWithinBatch(staged)
    val (days, existing) = touched(spark, batch, rawTable)
    // Observation fuses the returned row count into the write action —
    // one pass over the anti-join instead of a count() materialization
    // followed by a second (cached) pass for the write.
    val obs = org.apache.spark.sql.Observation()
    rawTable.append(spark, days, "append")(Ingest.newRows(batch, existing)
      .observe(obs, org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n")))
    val n = obs.get("n").asInstanceOf[Long]
    commitStoreVersion(spark, "append")
    n
  }

  /** S10: full-recompute rollups with DELETE+INSERT semantics exactly
    * like the reference — spelled as write-then-publish: each rebuilt
    * rollup lands as new files and one manifest commit swaps the whole
    * table, so a dashboard reader mid-rebuild keeps its pinned snapshot
    * instead of catching the delete half of an overwrite. One cached
    * pass over raw feeds all four (the Spark analogue of "4 assets over
    * one shared DB").
    */
  def rebuildAggregates(spark: SparkSession): Unit =
      TableLock.withLock(spark, root) {
    val r = raw(spark).cache()
    try rollups.foreach { case (t, q) => t.replaceAll(spark, "rebuild")(q(r)) }
    finally { r.unpersist(); () }
    commitStoreVersion(spark, "rebuild")
  }

  /** A rollup table, pinned to its newest manifest (direct directory
    * read for pre-manifest stores). `name` ∈ daily/user/service/region.
    */
  def agg(spark: SparkSession, name: String): DataFrame =
    aggTable(name).read(spark)

  /** Incremental daily-rollup maintenance: recompute ONLY the
    * (year,month,day) partitions the batch touched and swap just those
    * output partitions (a per-partition MERGE). The reference rebuilds
    * every aggregate from all history each run
    * (`aggregates.py:31,96,163,226`) — correct, but a 100 TB
    * non-starter; day-keyed rollups only ever change for appended days,
    * so this reads the touched days (partition-pruned) and writes the
    * touched partitions, leaving history untouched. Exactness is
    * preserved (including COUNT(DISTINCT)) because the day is the full
    * grouping key: each partition's aggregate depends only on that
    * partition's rows.
    */
  def refreshDailyForDays(spark: SparkSession, touchedDays: DataFrame): Unit =
      TableLock.withLock(spark, root) {
    val (days, affected) = touched(spark, touchedDays, rawTable)
    aggTable("daily").replaceDays(spark, days, "refresh")(
      Aggregates.daily(affected))
    commitStoreVersion(spark, "refresh")
  }

  /** Dedup-append a batch AND fold its per-day [[Aggregates.dailyPartial]]
    * state into the stored partials table — the fully incremental ingest
    * step: cost ∝ batch rows + days touched, never ∝ history. Returns
    * rows appended. [[dailyFromPartials]] serves the rollup at read time.
    */
  def appendIncremental(spark: SparkSession, staged: DataFrame): Long =
      TableLock.withLock(spark, root) {
    val batch = Ingest.dedupWithinBatch(staged)
    val (days, existing) = touched(spark, batch, rawTable)
    // localCheckpoint, NOT cache: fresh's plan reads rawPath (anti-join
    // probe), and the append below invalidates path-based caches — a
    // cached fresh would lazily RECOMPUTE against its own appended
    // output and come back empty for the partials fold
    val fresh = Ingest.newRows(batch, existing).localCheckpoint(true)
    try {
      val n = fresh.count()
      if (n > 0) {
        rawTable.append(spark, days, "append")(fresh)
        foldPartials(spark, fresh)
        commitStoreVersion(spark, "append")
      }
      n
    } finally { fresh.unpersist(); () }
  }

  /** Merge a delta's per-day partial state into the partials table:
    * stored partials are read pruned to the delta's days (broadcast
    * semi-shape), merged ([[Aggregates.mergeDailyPartials]] — exact
    * counts/sums, HLL sketch unions), and the touched day partitions
    * are swapped with the same write-then-publish manifest commit the
    * fact table uses: merged state lands as NEW files, the manifest
    * swap retires the old partials atomically, and a reader serving
    * [[dailyFromPartials]] mid-merge keeps its pinned snapshot instead
    * of seeing half-swapped partitions. (At production scale the same
    * fold targets an ACID table format; the algebra is identical.)
    */
  def mergeIntoDailyPartials(spark: SparkSession, delta: DataFrame): Unit =
      TableLock.withLock(spark, root) {
    foldPartials(spark, delta)
    commitStoreVersion(spark, "fold")
  }

  private def foldPartials(spark: SparkSession, delta: DataFrame): Unit = {
    val deltaParts = Aggregates.dailyPartial(delta)
    val (days, stored) = touched(spark, deltaParts, partialsTable)
    val merged =
      if (exists(spark, partialsTable.path))
        Aggregates.mergeDailyPartials(stored, deltaParts)
      else deltaParts
    partialsTable.replaceDays(spark, days, "fold")(merged)
  }

  /** The daily rollup served from the incrementally-maintained partials,
    * pinned to the newest partials manifest.
    */
  def dailyFromPartials(spark: SparkSession): DataFrame =
    Aggregates.finalizeDaily(partialsTable.read(spark))

  /** Small-file compaction for the partitioned fact store: every append
    * leaves one-file-per-task fragments in each touched (year,month,day)
    * partition, and at 100 TB a few thousand daily deliveries turn day
    * partitions into thousands of KB-sized files — the classic
    * metadata/open-cost killer for every later scan. This rewrites ONLY
    * the partitions holding more than `maxFilesPerPartition` files
    * (counted from the manifest's paths, no data read), clustering each
    * day's rows into one task → one file, and swaps them in via manifest
    * commit — untouched history partitions are never read or rewritten.
    * Row content is unchanged by construction (a pure rewrite); the gate
    * hash-checks that.
    *
    * `filesPerDay > 1` compacts to TIME-SORTED slices instead of one
    * file per day (global range partitioning on (day, timestamp)): each
    * rewritten file covers a contiguous, within-day-disjoint timestamp
    * range, so [[rawBetween]]'s file-level stats skipping survives
    * compaction instead of collapsing to day granularity. At 100 TB
    * this is how a compactor respects a target file size without
    * sacrificing the time-range index: more slices per day, each still
    * tight.
    *
    * `zorderUsers = true` (with `filesPerDay > 1`) clusters each day's
    * slices along the Morton curve of (second-of-day, user-id hash
    * bucket) instead of time alone — every rewritten file's timestamp
    * span AND distinct-user set shrink together, so the ts stats and
    * the bloom BOTH stay selective (the lakehouse `OPTIMIZE ZORDER BY`,
    * applied at compaction time; pure time sort keeps blooms diffuse
    * because every user appears in every slice).
    *
    * Returns (partitions compacted, files before). No-op (0, 0) when
    * nothing exceeds the threshold.
    */
  def compactRaw(spark: SparkSession,
      maxFilesPerPartition: Int = 1, filesPerDay: Int = 1,
      zorderUsers: Boolean = false): (Long, Long) =
      TableLock.withLock(spark, root) {
    import org.apache.spark.sql.functions.{exists => _, _}
    // "should I compact, and which days?" is answered from the manifest
    // alone — the partition layout names every file's day, so the
    // decision reads ZERO data (at 100 TB a compaction check must not
    // scan the table)
    val perPart = rawTable.current(spark).toSeq
      .flatMap(dayOf).groupBy(identity).view.mapValues(_.size)
      .filter(_._2 > maxFilesPerPartition).toMap
    val parts = perPart.size.toLong
    val files = perPart.values.map(_.toLong).sum
    if (parts > 0) {
      val dayTuples = perPart.keys.toSeq.sorted
      val fragmented = storedOn(spark, rawTable, dayTuples)
      // The write APPENDS new files next to the fragments (no checkpoint
      // barrier needed — nothing it reads is deleted); the manifest swap
      // then atomically retires the fragments, which stay on disk for
      // pinned readers until GC's retention window passes.
      val clustered =
        if (filesPerDay <= 1)
          // hash-cluster on the partition key: all rows of a day land in
          // one task, so each rewritten partition holds exactly one file
          fragmented.repartition(col("year"), col("month"), col("day"))
        else if (zorderUsers) {
          // Morton-cluster within each day: QUANTILE-bucketed
          // second-of-day (equal-count buckets — raw seconds would
          // waste curve bits on empty hours and let the user hash
          // dominate the high bits) interleaved with a user-hash
          // bucket; files own contiguous curve segments, so both
          // dimensions' per-file spans shrink together. The quantile
          // pass is one approxQuantile over the fragmented days —
          // compactor-priced, not read-priced.
          val secOfDay = pmod(unix_micros(col("timestamp")) /
            lit(1000000L), lit(86400L))
          val secBucket = graft.operators.ZOrder
            .quantileBucketScaled(fragmented, secOfDay, 10)
          val userBucket = pmod(xxhash64(col("user_id")), lit(1L << 10))
          fragmented
            .withColumn("__z", graft.operators.ZOrder
              .interleave(secBucket, userBucket, 10))
            .repartitionByRange(dayTuples.length * filesPerDay,
              col("year"), col("month"), col("day"), col("__z"))
            .sortWithinPartitions(col("year"), col("month"), col("day"),
              col("__z"))
        } else
          // range-partition on (day, timestamp): task ranges are
          // globally ordered, so every output file's timestamp span is
          // contiguous and disjoint from its day's siblings (a task
          // straddling midnight just writes one tight file per side)
          fragmented.repartitionByRange(dayTuples.length * filesPerDay,
            col("year"), col("month"), col("day"), col("timestamp"))
      rawTable.replaceDays(spark, dayTuples, "compact")(
        clustered.select(Schemas.billing.fieldNames.map(col): _*))
      commitStoreVersion(spark, "compact")
    }
    (parts, files)
  }

  /** CDC merge: apply a change batch — `op` = "upsert" (insert new or
    * replace the row with the same natural key) or "delete" (by key) —
    * to the fact store, PARTITION-GRANULAR under the writer lock: only
    * the (year,month,day) partitions the batch names are read, merged,
    * and swapped via manifest commit; history partitions are never
    * touched. Completes the store lifecycle the append-only reference
    * lacks (its DuckDB tables are INSERT-only, ingest.py:249-257):
    * append-dedup, compact, vacuum, and now update/delete.
    *
    * Returns (rows upserted, rows deleted-that-matched).
    */
  def applyChanges(spark: SparkSession, changes: DataFrame,
      key: Seq[String] = Schemas.dedupKey): (Long, Long) =
      TableLock.withLock(spark, root) {
    import org.apache.spark.sql.functions.{exists => _, _}
    // EAGER localCheckpoint, not persist: a change batch legitimately
    // derives from the store's own scans (e.g. a correction built from
    // raw()), and a lazily-cached partition would recompute against
    // files this merge retires
    val ch = changes.localCheckpoint(true)
    val upserts = Ingest.dedupWithinBatch(ch.filter(col("op") === "upsert")
      .drop("op"), key)
    val deletes = ch.filter(col("op") === "delete").drop("op")
    val (days, current) = touched(spark, ch, rawTable)
    val nDeleted = current.join(deletes.select(key.map(col): _*).distinct(),
      key, "left_semi").count()
    // survivors = current minus every changed key, plus the upsert rows;
    // written as NEW files next to the old ones (a day the merge emptied
    // simply contributes none), then the manifest swap retires every
    // pre-merge file of the touched partitions in one atomic commit —
    // emptied partitions need no special-casing, dynamic overwrite's
    // classic blind spot
    val changedKeys = upserts.select(key.map(col): _*)
      .unionByName(deletes.select(key.map(col): _*)).distinct()
    val merged = current.join(changedKeys, key, "left_anti")
      .unionByName(upserts)
    val nUpserted = upserts.count()
    rawTable.replaceDays(spark, days, "merge")(merged)
    commitStoreVersion(spark, "merge")
    ch.unpersist()
    (nUpserted, nDeleted)
  }

  /** Retention: drop fact-table day partitions STRICTLY older than
    * (year, month, day). A manifest commit under the writer lock — no
    * data file is ever read or rewritten, and untouched days keep their
    * files byte-identical (the same partition-granular contract as
    * [[compactRaw]]). Returns the number of partitions dropped. The
    * reference has no retention story at all (its DuckDB file only
    * grows); at 100 TB dropping expired partitions by directory is the
    * only shape that doesn't scan history to forget it.
    */
  def vacuumBefore(spark: SparkSession, year: Int, month: Int,
      day: Int): Long = TableLock.withLock(spark, root) {
    val cutoff = (year * 100 + month) * 100 + day
    // the expired-partition list comes from manifest paths, not a
    // table scan — forgetting history must not require reading it
    val files = rawTable.current(spark)
    val old = files.toSeq.flatMap(dayOf).distinct
      .filter { case (y, m, dd) => (y * 100 + m) * 100 + dd < cutoff }
    if (old.nonEmpty) {
      // the expired partitions' files leave the manifest and stay on
      // disk for pinned readers until GC's retention passes
      val dropped = old.map(dayDir(_) + "/")
      rawTable.replaceWith(spark,
        files.filterNot(f => dropped.exists(f.startsWith)), "vacuum")
      commitStoreVersion(spark, "vacuum")
    }
    old.length.toLong
  }

  /** T4: last-wins ledger upsert, rewritten whole (the ledger is tiny —
    * one row per ingested file).
    */
  def upsertLedger(spark: SparkSession, updates: DataFrame): Unit =
      TableLock.withLock(spark, root) {
    // write-then-publish like every other table: the delete→rename swap
    // this replaced left a window where the ledger path didn't exist at
    // all, and a reader caught inside it saw an empty ledger — which in
    // T4 semantics means "re-ingest everything"
    ledgerTable.replaceAll(spark, "upsert")(
      Ledger.upsert(ledger(spark), updates))
    commitStoreVersion(spark, "upsert")
  }
}

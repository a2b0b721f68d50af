package graft.ext

import graft.store.ControlFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import IndexStore.{Append, Rel, Replace}

/** The corpus STORE OF RECORD as a first-class takedown surface: a
  * manifest-versioned keyed parquet table built on the same
  * [[IndexStore]] lifecycle every derived index family uses —
  * immutable segments, atomic manifest publish, scoped tombstones
  * (delete-then-readd works), compaction as a pointer swap, GC with
  * reader leases, and addressable time travel.
  *
  * Why it exists: [[Takedown]] orchestrated the seven DERIVED index
  * surfaces, but the corpus rows those indexes were built from lived
  * outside the registry — a GDPR/takedown flow had to delete them
  * through a separate code path, and a crash between "indexes done"
  * and "store done" left a corpus row with no surviving index entry
  * (or worse, the reverse). Registering the store as a `store` surface
  * puts the corpus row and every derived surface under ONE durable
  * intent: `retract()` either completes everywhere or leaves a pending
  * intent `resume()` finishes.
  *
  * Schema contract: rows are stored verbatim plus a normalized `id`
  * key column (the delete key every takedown surface shares), and the
  * schema EVOLVES by addition: a later delivery may carry columns
  * earlier ones lack — reads union segments by name with missing
  * columns null-filled, so accreting crawl metadata (a language tag, a
  * quality score, a license field) never forces a 100 TB rewrite; the
  * merged schema materializes physically at the next [[compact]]. At
  * 100 TB the store is the biggest surface by bytes, which is exactly
  * why deletes are metadata-bounded tombstones (no corpus rewrite on
  * the retract path) and the rewrite happens once, batched, in
  * [[compact]].
  *
  * Data skipping: every segment carries a one-row `stats` sidecar
  * (min/max id, row count) written at publish time, and [[readRange]]
  * prunes whole segments — whole DELIVERIES — whose id range cannot
  * overlap the predicate before any row is read. [[compact]]
  * range-clusters the survivors on id, so after compaction the
  * intra-segment parquet files carry tight min/max footers too and
  * Spark's pushed range filter skips row groups inside the one
  * segment the zone map kept. A point lookup against a 100 TB store
  * should read one delivery's worth of footers, not 100 TB — the
  * Delta/Iceberg file-statistics discipline on this store's own
  * manifest.
  */
object CorpusStore extends IndexFamily {

  val kind = "store"
  val live = ("rows", "id")
  val needs: Option[String] = None

  /** `rows` with the store key normalized to a column named `id`
    * (replacing any existing `id` column — the key IS the id).
    */
  private def keyed(rows: DataFrame, idCol: Column): DataFrame = {
    val rest = rows.columns.filterNot(_ == "id").map(rows(_))
    rows.select(idCol.as("id") +: rest.toIndexedSeq: _*)
  }

  /** The `rows` relation `writeRows` fills, then its one-row zone-map
    * sidecar `stats` (the segment's id bounds and row count). Derived from
    * the written files' parquet FOOTER statistics (guide §6) — a
    * driver-side metadata read per file, not a second delivery-sized
    * scan of rows that were just written — while still being computed
    * from the FILES themselves, so the sidecar-matches-files guarantee
    * the zone map depends on holds exactly as before. INT64 exactness:
    * parquet min/max statistics are exact for integer columns (only
    * binary/string stats may truncate), so the footer-derived bounds
    * equal the old scan's `min(id)/max(id)` bit for bit; a store whose
    * id column is NOT int64, or a footer missing statistics, falls
    * back to the scan spelling.
    */
  private def rowsAndStats(spark: SparkSession,
      writeRows: String => Unit): Seq[Rel] = Seq(Rel("rows")(writeRows),
    Rel("stats", after = Some("rows")) { dir =>
      import spark.implicits._
      val rows = IndexStore.sibling(dir, "rows")
      val seg = IndexStore.segmentOf(dir)
      footerIdStats(spark, rows) match {
        case Some((lo, hi, n)) =>
          Seq((lo, hi, n, seg)).toDF("lo", "hi", "n", "seg")
            .coalesce(1).write.parquet(dir)
        case None =>
          spark.read.parquet(rows)
            .agg(min("id").as("lo"), max("id").as("hi"),
              count(lit(1)).as("n"))
            .withColumn("seg", lit(seg))
            .coalesce(1).write.parquet(dir)
      }
    })

  /** (min id, max id, row count) of a parquet directory read from file
    * footers only. None when the id column is not INT64 or any block
    * lacks statistics (caller falls back to scanning); (null, null, n)
    * when every id is null — the same row the scan's min/max/count
    * aggregate produces.
    */
  private def footerIdStats(spark: SparkSession,
      dir: String): Option[(java.lang.Long, java.lang.Long, Long)] =
    scala.util.Try {
      import scala.jdk.CollectionConverters._
      val conf = spark.sessionState.newHadoopConf()
      val d = new org.apache.hadoop.fs.Path(dir)
      val fs = d.getFileSystem(conf)
      val files = fs.listStatus(d).filter { st =>
        val n = st.getPath.getName
        st.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
          !n.startsWith(".")
      }
      var lo: Option[Long] = None
      var hi: Option[Long] = None
      var n = 0L
      files.foreach { st =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile
          .fromStatus(st, conf)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try {
          val footer = reader.getFooter
          val schema = footer.getFileMetaData.getSchema
          val idIdx = schema.getFields.asScala.indexWhere(f =>
            f.getName == "id" && f.isPrimitive &&
              f.asPrimitiveType().getPrimitiveTypeName ==
                org.apache.parquet.schema.PrimitiveType
                  .PrimitiveTypeName.INT64)
          require(idIdx >= 0, s"no int64 id column in $dir")
          footer.getBlocks.asScala.foreach { b =>
            n += b.getRowCount
            val c = b.getColumns.asScala.find(
              _.getPath.toDotString == "id").getOrElse(
              sys.error(s"no id chunk in a block of $dir"))
            val stats = c.getStatistics
            require(stats != null && !stats.isEmpty,
              s"missing id statistics in $dir")
            if (stats.hasNonNullValue) {
              val bLo = stats.genericGetMin.asInstanceOf[java.lang.Long]
              val bHi = stats.genericGetMax.asInstanceOf[java.lang.Long]
              lo = Some(lo.fold(bLo.longValue)(math.min(_, bLo.longValue)))
              hi = Some(hi.fold(bHi.longValue)(math.max(_, bHi.longValue)))
            }
          }
        } finally reader.close()
      }
      (lo.map(java.lang.Long.valueOf).orNull,
        hi.map(java.lang.Long.valueOf).orNull, n)
    }.toOption

  /** Write `rows` as the store's entire content (replace semantics —
    * initial build or full refresh). Returns the committed version.
    */
  def build(rows: DataFrame, idCol: Column, root: String,
      retainVersions: Int = 2): Long = {
    val spark = rows.sparkSession
    IndexStore.commit(spark, root, "build", Replace(retainVersions))(
      rowsAndStats(spark, keyed(rows, idCol).write.parquet(_)): _*)
  }

  /** Admit a delivery on top of the current content (append semantics;
    * an empty delivery publishes nothing and returns the current
    * version). Re-delivering a previously deleted id makes it live
    * again — the tombstones that masked it are scoped to the segments
    * present at delete time, so the new segment is unmasked.
    */
  def append(spark: SparkSession, root: String, rows: DataFrame,
      idCol: Column): Long =
    IndexStore.withLock(spark, root) {
      val delivery = keyed(rows, idCol)
      if (delivery.isEmpty) IndexStore.snapshot(spark, root).version
      else IndexStore.commit(spark, root, "append", Append)(
        rowsAndStats(spark, delivery.write.parquet(_)): _*)
    }

  /** The live corpus — rows minus scoped tombstones, the one
    * definition of "live" shared with every index family.
    */
  def read(spark: SparkSession, root: String): DataFrame =
    IndexStore.liveRows(IndexStore.snapshot(spark, root), "rows",
      key = "id")

  /** FEDERATED read across multiple stores with precedence: the live
    * rows of every root, id collisions resolved to the EARLIEST root
    * in the list — the multi-corpus composition a correction overlay,
    * staging-over-production swap, or multi-region merge needs WITHOUT
    * physically merging 100 TB stores. Deletes compose naturally: a
    * root with no live row for an id simply cedes to the next root
    * (retract the correction → the original shows through). Schemas
    * union by name (the evolution contract — a root missing a later
    * column reads null). Resolution is one source-rank column + a
    * min-rank-per-id aggregate + an equi-join — never a window, and
    * each root still applies its own zone maps/tombstones before any
    * row travels.
    */
  def readFederated(spark: SparkSession, roots: Seq[String]): DataFrame = {
    require(roots.nonEmpty, "readFederated needs at least one root")
    val ranked = roots.zipWithIndex.map { case (r, i) =>
      val live = read(spark, r)
      // the rank column must not shadow (and then silently drop) a user
      // column — withColumn overwrites on name collision
      require(!live.columns.contains("__src"),
        s"readFederated: store $r already has a '__src' column")
      live.withColumn("__src", lit(i)) }
      .reduce(_.unionByName(_, allowMissingColumns = true))
    val winner = ranked.groupBy("id").agg(min("__src").as("__src"))
    ranked.join(winner, Seq("id", "__src")).drop("__src")
  }

  /** The live corpus as of a RETAINED version — the lineage path: a
    * selection run records the store version it read, an audit replays
    * it verbatim (hold [[IndexStore.withLease]] to pin against GC).
    */
  def readAt(spark: SparkSession, root: String, version: Long): DataFrame =
    IndexStore.liveRows(IndexStore.snapshotAt(spark, root, version), "rows",
      key = "id")

  /** The live rows with `lo <= id <= hi`, reading ONLY the segments
    * whose zone map can overlap the range: a handful of tiny `stats`
    * sidecars decide which deliveries are touched at all, the pushed
    * range filter prunes row groups inside them, and tombstones still
    * apply in full. A segment without a sidecar (written before stats
    * existed) is conservatively kept. For numeric long ids this is the
    * point-lookup / delivery-window path — cost tracks the matched
    * slice, never the store.
    */
  def readRange(spark: SparkSession, root: String, lo: Long,
      hi: Long): DataFrame = {
    val snap = IndexStore.snapshot(spark, root)
    val segs = snap.segments("rows")
    val bounds: Map[String, (Long, Long)] =
      snap.read("stats") match {
        case None => Map.empty
        case Some(st) => st.select("seg", "lo", "hi").collect()
          .filterNot(_.isNullAt(1)) // an all-null-id segment has no map
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
      }
    val keep = segs.filter(sg =>
      bounds.get(sg).forall { case (l, h) => h >= lo && l <= hi })
    if (keep.isEmpty)
      IndexStore.liveRows(snap, "rows", key = "id").filter(lit(false))
    else
      IndexStore.liveRows(snap, "rows", key = "id", only = Some(keep))
        .filter(col("id").between(lo, hi))
  }

  /** The change feed since `sinceVersion` (exclusive) — what a
    * downstream consumer needs to incrementally track a 100 TB store
    * without re-reading it: each commit's semantic delta, read from
    * exactly the bytes that commit added. An append's new segment IS
    * its inserts; a delete's tombstone segment IS its effective
    * deletes (tombstones are live-presence-filtered at write time, so
    * the feed never reports deleting a row the consumer never saw);
    * a compact commit (op-tagged in the manifest, atomic with it) is
    * a physical rewrite with no semantic delta and contributes
    * nothing. Any OTHER commit that drops manifest lines — a full
    * refresh — breaks feed continuity and fails loudly naming the
    * version: the consumer must re-seed from a snapshot, not silently
    * miss a world swap.
    *
    * Returns the store schema (evolution-merged; delete rows carry
    * only `id`, other columns null) plus `_change`
    * ('insert'/'delete') and `_version` (the commit). A row inserted
    * then deleted inside the window reports both events, in commit
    * order — standard change-data-feed semantics. Requires
    * `sinceVersion` and the window's manifests retained (the
    * time-travel window; hold a lease to tail slower than GC).
    */
  def changes(spark: SparkSession, root: String,
      sinceVersion: Long): DataFrame = {
    val all = IndexStore.versions(spark, root)
    require(all.contains(sinceVersion),
      s"version $sinceVersion at $root is not retained " +
        s"(have: ${all.mkString(",")}) — re-seed the consumer")
    val window = all.filter(_ > sinceVersion).sorted
    var prev = IndexStore.snapshotAt(spark, root, sinceVersion)
      .lines.toSet
    val frames = window.flatMap { v =>
      val snap = IndexStore.snapshotAt(spark, root, v)
      val cur = snap.lines.toSet
      val added = cur -- prev
      val dropped = prev -- cur
      prev = cur
      if (dropped.nonEmpty) {
        val op = IndexStore.opAt(spark, root, v)
        require(op == "compact",
          s"change feed broken at version $v of $root: a " +
            s"'${if (op.isEmpty) "untagged" else op}' commit rewrote " +
            "the store (only compact rewrites are content-preserving); " +
            "re-seed the consumer from a fresh snapshot")
        None
      } else {
        val segs = added.map(_.split("/").head).toSeq.distinct.sorted
        val ins = snap.readSegments(
            segs.filter(s => added.contains(s"$s/rows")), "rows")
          .map(_.withColumn("_change", lit("insert"))
            .withColumn("_version", lit(v)))
        val del = snap.readSegments(
            segs.filter(s => added.contains(s"$s/tombstones")),
            "tombstones")
          .map(_.select(col("id"))
            .withColumn("_change", lit("delete"))
            .withColumn("_version", lit(v)))
        ins ++ del
      }
    }
    if (frames.nonEmpty)
      frames.reduce(_.unionByName(_, allowMissingColumns = true))
    else // empty window: empty frame with the store schema + feed cols
      read(spark, root).filter(lit(false))
        .withColumn("_change", lit(""))
        .withColumn("_version", lit(0L))
  }

  /** One crash-safe tick of a change-feed consumer: read the durable
    * cursor at `cursorPath` (absent = the store's oldest retained
    * version — a fresh consumer starts from the earliest complete
    * history it can still get), hand `f` the [[changes]] since it, and
    * advance the cursor ONLY after `f` returns — so a crash mid-`f`
    * replays the same window on the next tick (at-least-once; pair
    * with live-presence-idempotent appliers — every index family's
    * append/delete already is — for exactly-once effects, the
    * checkpoint-and-replay contract Structured Streaming's
    * foreachBatch makes). The cursor is a version number rewritten by
    * [[graft.store.ControlFile.replace]], so it is never absent or torn
    * once written: a crash reads as "never advanced", never as a
    * skipped window or a restart from the oldest version. Returns the
    * (from, to] window it processed, or None when the feed had no new
    * commits.
    */
  def tailInto(spark: SparkSession, root: String, cursorPath: String)(
      f: DataFrame => Unit): Option[(Long, Long)] = {
    val fs = ControlFile.fs(spark, root)
    val cur = new org.apache.hadoop.fs.Path(cursorPath)
    val from = ControlFile.read(fs, cur).map(_.trim.toLong)
      .getOrElse(IndexStore.versions(spark, root).min)
    val to = IndexStore.versions(spark, root).max
    if (to <= from) return None
    f(changes(spark, root, from))
    ControlFile.replace(fs, cur, to.toString)
    Some((from, to))
  }

  /** The store of record takes the delivery verbatim. */
  private[ext] def admit(spark: SparkSession, root: String,
      fresh: DataFrame): Unit = {
    append(spark, root, fresh, col("id")); ()
  }

  /** Apply tombstones physically and re-cluster every delivery into
    * one segment, RANGE-SORTED on id across `clusterPartitions`
    * parquet files (manifest pointer swap; pinned readers keep their
    * segments until GC retention lapses). The sort is what makes the
    * post-compact zone maps tight: each file's parquet footer covers a
    * disjoint id range, so [[readRange]]'s pushed filter skips all but
    * the matching files inside the surviving segment.
    */
  def compact(spark: SparkSession, root: String,
      retainVersions: Int = 2, clusterPartitions: Int = 8): Unit =
    IndexStore.withLock(spark, root) {
      val live = read(spark, root).persist()
      try IndexStore.commit(spark, root, "compact", Replace(retainVersions))(
        rowsAndStats(spark, live.repartitionByRange(clusterPartitions,
          col("id")).sortWithinPartitions("id").write.parquet(_)): _*)
      finally live.unpersist()
    }

  def compact(spark: SparkSession, root: String, retainVersions: Int): Unit =
    compact(spark, root, retainVersions, clusterPartitions = 8)

  /** [[stats]] gauge: `live_rows`, what the corpus currently serves
    * (the row payloads are pruned to the id column).
    */
  protected def gauges(snap: IndexStore.Snapshot): Seq[(String, Long)] =
    Seq("live_rows" ->
      IndexStore.liveRows(snap, "rows", key = "id").select("id").count())
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

/** One persisted surface family on the shared [[IndexStore]] lifecycle —
  * the interface [[Takedown]] and [[Ingest]] drive every registered
  * surface through. A family declares its registry kind, its live
  * relation, what a delivery must carry, and how it admits one; the
  * lifecycle every family shares (the size-tiered compaction policy, the
  * scoped-tombstone delete, the stats envelope, the train-age gauge)
  * is spelled here once, and a family overrides only what is its own.
  *
  * Scala 2.13 seals a trait to its own file only, so the registry
  * [[IndexFamily.all]] is the one place that knows the kinds; an
  * unknown kind fails there, by name ([[IndexFamily.apply]]).
  */
trait IndexFamily {

  /** The registry kind written into `_surfaces/` entries — part of the
    * on-disk format, so it never changes.
    */
  def kind: String

  /** (relation, id column) whose live rows ARE the surface's ids: what
    * [[Ingest]] probes for presence and the default [[delete]]
    * tombstones. The cheapest id-bearing relation (one row per key
    * where the family has one).
    */
  def live: (String, String)

  /** The delivery column this family encodes (`text` or `emb`); None
    * for the store of record, which takes the delivery verbatim.
    */
  def needs: Option[String]

  /** Admit `fresh` — delivery rows (`id` plus the [[needs]] column)
    * not yet live on the surface at `path`.
    */
  private[ext] def admit(spark: SparkSession, path: String,
      fresh: DataFrame): Unit

  /** Rewrite the surface into one segment — tombstones applied
    * physically, per-delivery files collapsed — published as a
    * manifest pointer swap tagged `compact`. Pure layout rewrite:
    * answers are unchanged by construction.
    */
  def compact(spark: SparkSession, path: String, retainVersions: Int): Unit

  /** [[compact]] only when the manifest references more than
    * `maxSegments` segments — the knob a streaming ingest/takedown loop
    * calls after every delivery, so compaction amortizes instead of
    * firing per micro-batch (or never). Returns whether one ran.
    */
  def maybeCompact(spark: SparkSession, path: String,
      maxSegments: Int): Boolean = {
    val due = IndexStore.segmentCount(spark, path) > maxSegments
    if (due) compact(spark, path, retainVersions = 2)
    due
  }

  /** Retract ids: those live in [[live]] append as one scoped tombstone
    * segment ([[IndexStore.tombstoneIds]]), layout untouched. Readers
    * mask them at once, [[compact]] removes them physically; deletes
    * never double-apply, and a deleted id can be re-admitted.
    */
  def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: Column): Unit =
    IndexStore.tombstoneIds(spark, path, ids, idCol, live._1, live._2)

  /** FAMILY HEALTH as (metric, value) rows, sorted by metric: the
    * family's own [[gauges]] plus the envelope every family shares —
    * `segments` (the compaction-debt gauge [[maybeCompact]] fires on),
    * `tombstone_segments` (un-applied takedown debt) and `version`.
    */
  def stats(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val snap = IndexStore.snapshot(spark, path)
    (gauges(snap) ++ Seq(
      "segments" -> snap.segmentCount.toLong,
      "tombstone_segments" -> snap.segments("tombstones").size.toLong,
      "version" -> snap.version,
    )).sortBy(_._1).toDF("metric", "value")
  }

  /** The family's own [[stats]] rows. */
  protected def gauges(snap: IndexStore.Snapshot): Seq[(String, Long)]

  /** Whether this family's codec is trained, with "train"-tagged
    * commits carrying fresh quantizers.
    */
  protected def trained: Boolean = false

  /** Versions since the last "train"-tagged commit — how many appends,
    * deletes and compactions the frozen codec has outlived, the gauge
    * that decides when a retrain is due on a drifting corpus. A
    * retained history that predates op tags reads against its oldest
    * retained version (a documented lower bound); 0 for families with
    * no trained codec.
    */
  def trainAge(snap: IndexStore.Snapshot): Long =
    if (!trained) 0L
    else {
      val vs = IndexStore.versions(snap.spark, snap.root)
      snap.version - vs.filter(v =>
        IndexStore.opAt(snap.spark, snap.root, v) == "train")
        .sorted.lastOption.getOrElse(vs.min)
    }

  /** PRECEDENCE-AWARE FEDERATION across roots of this family, ordered
    * highest-precedence first: `hits(i)` is root i's own (over-fetched)
    * answer, and a hit from root i is disqualified iff any higher root
    * has its id (column `hitId`) LIVE — the authoritative, possibly
    * amended, version lives there — while a retracted overlay id cedes
    * back. The precedence probe tests only result ids against higher
    * roots' live relation (Bloom-pruned segments) — bounded, never a
    * corpus read. Returns the surviving hits of every root, unioned.
    */
  protected def federate(spark: SparkSession, roots: Seq[String],
      hitId: String)(hits: Int => DataFrame): DataFrame = {
    require(roots.nonEmpty, s"federated $kind search needs ≥ 1 root")
    val (rel, key) = live
    roots.indices.map { i =>
      (0 until i).foldLeft(hits(i)) { (acc, j) =>
        val liveJ = IndexStore.liveRowsAmong(
            IndexStore.snapshot(spark, roots(j)), rel, key,
            acc.select(col(hitId).as(key)))
          .select(col(key).as(hitId)).distinct()
        acc.join(liveJ, Seq(hitId), "left_anti")
      }
    }.reduce(_ unionByName _)
  }

  /** [[federate]] for the vector families, whose hits carry exact
    * cosines — so the cross-root fuse is calibrated: one top-k by
    * (cos desc, neighbor_id) over the surviving hits.
    */
  protected def federateVectors(spark: SparkSession, roots: Seq[String],
      k: Int)(hits: Int => DataFrame): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    federate(spark, roots, "neighbor_id")(hits)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** (deliveries, tombstones) quality-debt counters — only the graph
    * keeps them ([[KnnGraphIndex.debt]]).
    */
  def debt(spark: SparkSession, root: String): (Long, Long) = (0L, 0L)

  /** The quality pass [[Takedown.maintain]] runs after compaction:
    * the graph re-wires past `maxGraphDebt`, the cell families
    * re-cluster past `maxCell` (0 = off) from `embs`, the registry's
    * vector store of record. Returns whether it fired; none by default.
    */
  private[ext] def maintainQuality(spark: SparkSession, path: String,
      maxGraphDebt: Int, maxCell: Long,
      embs: => Option[DataFrame]): Boolean = false
}

object IndexFamily {

  /** Every family — the single registry list. */
  val all: Seq[IndexFamily] = Seq(CorpusStore, TextSearch, DedupIndex,
    LiteralIndex, IvfIndex, PqIndex, SqIndex, IvfPqIndex, KnnGraphIndex,
    BinaryIndex)

  private lazy val byKind = all.map(f => f.kind -> f).toMap

  /** The family registered under `kind`; an unknown kind is a named
    * error.
    */
  def apply(kind: String): IndexFamily =
    byKind.getOrElse(kind, throw new IllegalArgumentException(
      s"unknown surface kind '$kind' " +
        s"(have: ${all.map(_.kind).mkString(",")})"))

  /** A delivery's embedded rows as (vec_id, embedding). A mixed
    * delivery legitimately carries text-only rows (the store keeps
    * them; embeddings may arrive later), but a null embedding must
    * never reach a vector index, where prepared() would flow null
    * v/nrm into every cosine.
    */
  private[ext] def vectors(fresh: DataFrame): DataFrame =
    fresh.filter(col("emb").isNotNull)
      .select(col("id").as("vec_id"), col("emb").as("embedding"))
}

/** The vector-index families that keep a live (vec_id → code or cell)
  * relation beside small quantizer sidecars and re-attach vectors from
  * the corpus on load: ivf, pq, sq, ivfpq, binary. Vectors are never
  * duplicated into the index — the corpus table stays their source of
  * truth.
  */
trait VectorFamily extends IndexFamily {

  type Model

  def needs: Option[String] = Some("emb")

  /** The small relations [[compact]] carries verbatim beside the live
    * relation (centroids, codebooks, ranges, meta).
    */
  protected def sidecars: Seq[String]

  protected def loadSnapshot(snap: IndexStore.Snapshot, embs: DataFrame): Model

  /** Encode `newEmbs` with the model's FROZEN quantizer and append them
    * to the saved index at `path` — only the delta is scanned and
    * written, and an empty delivery publishes nothing.
    */
  def saveAppend(model: Model, newEmbs: DataFrame, path: String): Unit

  /** The prepared corpus ([[EmbeddingSearch.prepared]]) joined to the
    * live relation at `snap` — the corpus frame a loaded model scores.
    */
  protected def liveCorpus(snap: IndexStore.Snapshot,
      embs: DataFrame): DataFrame =
    EmbeddingSearch.prepared(embs)
      .join(IndexStore.liveRows(snap, live._1, live._2), live._2)

  /** The (vec_id, embedding) rows of `embs` live in the index at
    * `path` — the corpus a quantizer refresh re-fits over.
    */
  protected def liveEmbeddings(spark: SparkSession, path: String,
      embs: DataFrame): DataFrame =
    embs.join(IndexStore.liveRows(IndexStore.snapshot(spark, path),
        live._1, live._2).select(live._2), live._2)
      .select("vec_id", "embedding")

  /** Write rows of the live relation to `dir` in the family's layout. */
  protected def writeLive(rows: DataFrame, dir: String): Unit =
    rows.write.parquet(dir)

  /** Load a saved index; `embs` (the corpus plus appended rows)
    * re-attaches vectors via an inner join on vec_id, so codes whose
    * vectors left the corpus drop out harmlessly. Tombstoned vectors
    * are excluded — both as candidates and as query rows.
    */
  def load(spark: SparkSession, path: String, embs: DataFrame): Model =
    loadSnapshot(IndexStore.snapshot(spark, path), embs)

  /** [[load]] against a PINNED manifest version — time travel within
    * the GC retention window: searches answer exactly as of that
    * commit, regardless of appends/deletes landed since (the ANN side
    * of the lineage contract [[TextSearch.searchSavedAt]] makes for
    * sparse retrieval). `embs` must still cover the pinned version's
    * vec_ids.
    */
  def loadAt(spark: SparkSession, path: String, version: Long,
      embs: DataFrame): Model =
    loadSnapshot(IndexStore.snapshotAt(spark, path, version), embs)

  /** The model's corpus frame binds to the delivery: [[saveAppend]]
    * reads only the frozen quantizer, which comes from the snapshot.
    */
  private[ext] def admit(spark: SparkSession, path: String,
      fresh: DataFrame): Unit = {
    val vecs = IndexFamily.vectors(fresh)
    saveAppend(load(spark, path, vecs), vecs, path)
  }

  /** Append `delta` (rows of the live relation) as one segment; an
    * empty delta publishes nothing.
    */
  protected def appendLive(spark: SparkSession, path: String,
      delta: DataFrame): Unit =
    if (!delta.isEmpty)
      IndexStore.commit(spark, path, "append", IndexStore.Append)(
        IndexStore.Rel(live._1)(writeLive(delta, _)))

  /** Publish `liveRows` (written in the family layout) and one row set
    * per [[sidecars]] entry as the index's ENTIRE content, in one
    * segment tagged `op` — the commit that save, retrain, rebalance and
    * compaction share.
    */
  protected def commitReplace(spark: SparkSession, path: String,
      liveRows: DataFrame, sidecarRows: Seq[DataFrame],
      retainVersions: Int, op: String): Unit =
    IndexStore.commit(spark, path, op, IndexStore.Replace(retainVersions))(
      IndexStore.Rel(live._1)(writeLive(liveRows, _)) +:
        sidecars.zip(sidecarRows).map { case (r, rows) =>
          IndexStore.Rel(r)(rows.coalesce(1).write.parquet(_))
        }: _*)

  /** The live relation rewrites in the family layout, the sidecars
    * copy verbatim.
    */
  def compact(spark: SparkSession, path: String,
      retainVersions: Int = 2): Unit =
    IndexStore.withLock(spark, path) {
      val snap = IndexStore.snapshot(spark, path)
      commitReplace(spark, path, IndexStore.liveRows(snap, live._1, live._2),
        sidecars.map(snap.read(_).get), retainVersions, op = "compact")
    }
}

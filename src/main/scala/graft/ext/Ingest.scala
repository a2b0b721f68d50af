package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cross-surface ingest orchestration — the APPEND mirror of
  * [[Takedown]]. A delivery at 100 TB must land on the corpus's EVERY
  * surface — the store of record, BM25, dedup, literal, and the ANN
  * indexes — or a document is searchable on one surface and missing
  * from another until someone notices. Each family already has an
  * incremental append; what was missing is the composition: one
  * `admit(delivery)` that drives them all off ONE durable intent and
  * is safe to re-run after a mid-flow crash.
  *
  * Mechanism — intent log, then apply (the [[IntentLog]] shared with
  * [[Takedown.retract]]):
  *
  *   1. [[admit]] first writes the delivery DURABLY to
  *      `root/_deliveries/<did>/rows` (staged and renamed, so a crash
  *      mid-write leaves a never-landed staging dir). Only then are
  *      the registered surfaces applied — store of record FIRST (the
  *      source of truth must never trail its own derivatives), then
  *      the derived indexes in registry order — each leaving a
  *      `done-<surface>` marker.
  *   2. A crash between surfaces leaves a pending delivery: [[resume]]
  *      re-applies every unfinished one, skipping surfaces whose
  *      marker exists. Markers are an optimization, not the safety:
  *      before a surface's append, the delivery's ids are anti-joined
  *      against that surface's LIVE ids, so a replayed apply admits
  *      only what is not already there — and every family append
  *      publishes nothing for an empty delta. Replay converges with no
  *      double-insert even when the crash fell between a surface's
  *      manifest commit and its marker write.
  *
  * Idempotency contract: admit is per-id upsert-shaped — an id already
  * LIVE on a surface is skipped there (re-admitting a delivery is a
  * no-op; admitting a previously deleted id re-adds it, the scoped-
  * tombstone readd semantics every family shares). The liveness probe
  * costs one column-pruned scan of the surface's cheapest id-bearing
  * relation (store rows / dedup sizes / IVF cells / PQ codes are one
  * row per key; BM25 postings and literal grams are token-linear) with
  * the delivery broadcast — the same cost class as the family delete
  * paths, which judge presence against live rows the same way.
  *
  * Delivery schema: a required `id` column, plus each registered
  * family's [[IndexFamily.needs]] column — across [[IndexFamily.all]],
  * `text` (the document indexes) and/or `emb` (an
  * `array<float/double>`, the vector indexes). [[admit]] refuses —
  * BEFORE the intent lands — a delivery missing a column some
  * registered surface needs, so an intent can never wedge on a schema
  * it cannot satisfy. The store of record
  * receives the delivery verbatim; delivery schemas may EVOLVE by
  * addition (the store unions segments by name, null-filling columns
  * older deliveries lack — [[CorpusStore]]'s schema contract).
  */
object Ingest {

  import Takedown.{Surface, surfaces}

  /** Store-of-record surfaces complete FIRST and one at a time (the
    * source of truth must never trail its own derivatives — the
    * documented ordering contract); the DERIVED surfaces after them are
    * independent commits on their own roots and run concurrently.
    */
  private val log = new IntentLog("_deliveries", "d-", "rows")({ ss =>
    val (stores, derived) = ss.partition(_.family == CorpusStore)
    stores.map(Seq(_)) :+ derived
  })

  /** Store of record first, then document indexes, then vector indexes
    * (derived order is convention, not correctness — every apply is
    * independently idempotent).
    */
  private def applyOrder(ss: Seq[Surface]): Seq[Surface] =
    ss.sortBy(s => (s.family != CorpusStore, s.kind, s.path))

  /** Admit `delivery` to every registered surface. The intent commits
    * durably BEFORE any surface is touched, so a crash at any point
    * leaves either a no-op (intent never landed) or a pending delivery
    * [[resume]] completes. Returns the delivery id. Re-running with
    * the same rows is harmless: every surface apply is
    * live-presence-idempotent.
    */
  def admit(spark: SparkSession, root: String, delivery: DataFrame,
      idCol: Column): String = {
    val ss = surfaces(spark, root)
    require(ss.nonEmpty, s"no surfaces registered under $root")
    ss.foreach(s => s.family.needs.foreach(c =>
      require(delivery.columns.contains(c),
        s"surface ${s.kind}@${s.path} needs a '$c' column the delivery lacks")))
    val rest = delivery.columns.filterNot(_ == "id").map(delivery(_))
    val did = log.stage(spark, root)(
      delivery.select(idCol.as("id") +: rest.toIndexedSeq: _*)
        .dropDuplicates("id").write.parquet(_))
    applyIntent(spark, root, did)
    did
  }

  /** The delivery ids already LIVE on `s`, judged against its cheapest
    * id-bearing relation — the presence judge every apply anti-joins
    * the delivery against. Bloom-sidecar segment pruning
    * ([[IndexStore.liveRowsAmong]]) keeps the probe O(segment blooms +
    * matching segments), not O(live ids) — a fresh-id delivery prunes
    * every segment and reads nothing but blooms, even on the
    * token-linear relations (postings, grams).
    */
  private def liveIds(spark: SparkSession, s: Surface,
      candidates: DataFrame): DataFrame = {
    val snap = IndexStore.snapshot(spark, s.path)
    val (rel, k) = s.family.live
    IndexStore.liveRowsAmong(snap, rel, k,
        candidates.select(col("id").as(k)))
      .select(col(k).as("id")).distinct()
  }

  /** Apply one logged delivery's surfaces up to `upTo` in apply order
    * (the test hook that simulates a mid-flow crash; production callers
    * never pass it).
    */
  private[ext] def applyIntent(spark: SparkSession, root: String,
      did: String, upTo: Int = Int.MaxValue): Unit = {
    val rows = spark.read.parquet(log.payloadPath(root, did))
    log.apply(spark, root, did, applyOrder(surfaces(spark, root)), upTo)(
      applySurface(spark, _, rows))
  }

  private def applySurface(spark: SparkSession, s: Surface,
      rows: DataFrame): Unit = {
    // a surface registered AFTER an intent lacking its column landed
    // fails loudly here (admit() refuses such a delivery up front)
    s.family.needs.foreach(c => require(rows.columns.contains(c),
      s"surface ${s.kind}@${s.path} needs a '$c' column the logged " +
        "delivery lacks"))
    // ids already live on THIS surface are skipped: dups ⊆ delivery, so
    // broadcasting the probe and the resulting exclusion set is safe
    val dups = liveIds(spark, s, rows.select("id"))
      .join(broadcast(rows.select("id")), Seq("id"), "left_semi")
    s.family.admit(spark, s.path,
      rows.join(broadcast(dups), Seq("id"), "left_anti"))
  }

  /** Delivery ids whose `_done` marker has not landed — what a crash
    * left behind. Intents whose `rows` dir never landed are NOT pending:
    * no surface can have been touched for them.
    */
  def pending(spark: SparkSession, root: String): Seq[String] =
    log.pending(spark, root)

  /** Complete every pending delivery (crash recovery — call on process
    * start, or from a maintenance cron). Returns the ids it finished.
    */
  def resume(spark: SparkSession, root: String): Seq[String] =
    log.resume(spark, root)(applyIntent(spark, root, _))
}

package graft.billing

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A pinned, cross-table-consistent view of a [[BillingStore]] — every
  * table at the manifest version one serialized mutator history
  * committed together (the `_store` version vector). Un-pinned readers
  * get per-table snapshot isolation but can still straddle a mutator
  * ACROSS tables: raw already carrying a batch whose partials fold
  * hasn't landed, a rollup rebuilt from a raw the reader isn't seeing.
  * A snapshot cannot — the vector is only ever published after all of
  * a mutator's table commits.
  *
  * Readability window: `retainVersions` subsequent commits per table
  * (same contract as [[BillingStore.rawAt]]); a version GC already
  * reclaimed throws rather than serving a torn view. Tables without a
  * pinned version (pre-snapshot store) fall back to live reads.
  */
final case class StoreSnapshot(store: BillingStore,
    versions: Map[String, Long]) {

  private def pinned(spark: SparkSession,
      table: BillingStore#Table): DataFrame =
    table.read(spark, versions.get(table.key))

  /** The fact table at the pinned version (stats-aware skipping reads,
    * like every manifest read of the fact table).
    */
  def raw(spark: SparkSession): DataFrame = pinned(spark, store.rawTable)

  /** A rollup table at the pinned version; `name` ∈
    * daily/user/service/region.
    */
  def agg(spark: SparkSession, name: String): DataFrame =
    pinned(spark, store.aggTable(name))

  /** The ingest ledger at the pinned version. */
  def ledger(spark: SparkSession): DataFrame =
    pinned(spark, store.ledgerTable)

  /** The daily rollup finalized from the PINNED partials — lock-step
    * consistent with [[raw]]: both tables committed in the same
    * mutator, so `Aggregates.daily(snapshot.raw)` always equals this
    * (modulo the HLL distinct sketch), at every snapshot.
    */
  def dailyFromPartials(spark: SparkSession): DataFrame =
    Aggregates.finalizeDaily(pinned(spark, store.partialsTable))
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import IndexStore.{Append, Rel, Replace}

/** Persisted EXACT-paragraph dedup registry — the incremental twin of
  * [[TextAnalysis.paragraphDedup]], the same build-once /
  * dedup-every-batch contract as [[DedupIndex]] but at paragraph
  * granularity with exact 128-bit hashes instead of LSH sketches:
  * a crawl ingest scrubs each delivery's boilerplate against
  * EVERYTHING seen so far without ever re-reading history.
  *
  * The registry stores one (h, id, idx) keeper row per distinct
  * paragraph hash — the corpus-wide FIRST occurrence. Why increments
  * compose exactly: the keeper election is `min(struct(id, idx))`,
  * which is associative and commutative, so folding batches in
  * arrival order gives the same keeper as one global pass whenever
  * ids grow monotonically with arrival (the ingest invariant every
  * store delivery here satisfies). `q_paragraph_dedup_inc` gates the
  * equality against a from-scratch oracle.
  *
  * Scale shape: a batch meets the registry through one hash-keyed
  * LEFT ANTI join of the batch's DISTINCT hashes (batch-sized, never
  * registry-scan-sized output; the registry side is column-pruned to
  * `h`), and new keepers append as one segment via the shared
  * [[IndexStore]] manifest protocol — crash-safe atomic publish,
  * snapshot isolation, compaction, GC, time travel all inherited.
  * Batch text never joins the registry: the keep decision flows back
  * to paragraph rows by (id, idx).
  */
object ParagraphIndex {

  private def hashed(paras: DataFrame, id: Column, idx: Column,
      para: Column): DataFrame =
    paras.select(id.as("id"), idx.as("idx"), para.as("para"))
      .withColumn("h", md5(col("para")))

  /** Build the registry from the base corpus's paragraphs. */
  def build(paras: DataFrame, id: Column, idx: Column, para: Column,
      path: String): Long =
    IndexStore.commit(paras.sparkSession, path, "build", Replace())(
      Rel("keepers")(keepers(hashed(paras, id, idx, para)).write.parquet(_)))

  /** Per-hash first occurrence within one paragraph frame. */
  private def keepers(p: DataFrame): DataFrame =
    p.groupBy("h").agg(min(struct(col("id"), col("idx"))).as("k"))
      .select(col("h"), col("k.id").as("id"), col("k.idx").as("idx"))

  private def savedHashes(snap: IndexStore.Snapshot): DataFrame =
    snap.read("keepers").getOrElse(
      sys.error(s"no keepers relation under ${snap.root}")).select("h")

  /** Scrub one batch against the registry: a batch paragraph survives
    * iff its hash is absent from the registry AND it is the batch's
    * own first occurrence. Returns one row per batch document:
    * (id, n_paras, kept_paras, clean_text) — identical schema to
    * [[TextAnalysis.paragraphDedup]].
    */
  def dedupBatch(spark: SparkSession, path: String, paras: DataFrame,
      id: Column, idx: Column, para: Column): DataFrame =
    dedupAgainst(IndexStore.snapshot(spark, path),
      hashed(paras, id, idx, para))

  private def dedupAgainst(snap: IndexStore.Snapshot,
      p: DataFrame): DataFrame = {
    // batch-local first occurrence, then anti-join the registry on the
    // hash alone — the registry contributes no payload, only presence
    val localKeep = keepers(p)
      .join(savedHashes(snap), Seq("h"), "left_anti")
      .withColumnRenamed("id", "kid").withColumnRenamed("idx", "kidx")
    p.join(localKeep, Seq("h"), "left")
      .withColumn("keep",
        col("kid").isNotNull && col("id") === col("kid") &&
          col("idx") === col("kidx"))
      .groupBy("id").agg(
        count(lit(1)).as("n_paras"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("kept_paras"),
        collect_list(when(col("keep"), struct(col("idx"), col("para"))))
          .as("__kept"))
      .select(col("id"), col("n_paras"), col("kept_paras"),
        array_join(transform(array_sort(col("__kept")), s => s("para")),
          "\n").as("clean_text"))
  }

  /** Admit one batch's NEW paragraph hashes (with their batch-local
    * keepers) as an append segment. Registered hashes never update:
    * the earlier keeper stays — the min-law invariant.
    */
  def append(spark: SparkSession, path: String, paras: DataFrame,
      id: Column, idx: Column, para: Column): Long = {
    val p = hashed(paras, id, idx, para)
    IndexStore.withLock(spark, path) {
      val snap = IndexStore.snapshot(spark, path)
      val fresh = keepers(p).join(savedHashes(snap), Seq("h"), "left_anti")
      if (fresh.isEmpty) snap.version
      else IndexStore.commit(spark, path, "append", Append)(
        Rel("keepers")(fresh.write.parquet(_)))
    }
  }

  /** [[dedupBatch]] + [[append]] fused — the per-delivery ingest step
    * (scrub against everything seen, then remember this batch's new
    * paragraphs). Returns the scrubbed documents.
    */
  def ingestBatch(spark: SparkSession, path: String, paras: DataFrame,
      id: Column, idx: Column, para: Column): DataFrame = {
    val out = dedupBatch(spark, path, paras, id, idx, para)
      .localCheckpoint(true)
    append(spark, path, paras, id, idx, para)
    out
  }

  /** Registry compaction: fold every append segment's keepers into one
    * (the same `maybeCompact` debt policy as the other families).
    */
  def compact(spark: SparkSession, path: String,
      retainVersions: Int = 2): Long =
    IndexStore.withLock(spark, path) {
      val snap = IndexStore.snapshot(spark, path)
      IndexStore.commit(spark, path, "compact", Replace(retainVersions))(
        Rel("keepers")(snap.read("keepers").getOrElse(
          sys.error(s"no keepers relation under ${snap.root}"))
          .write.parquet(_)))
    }

  def maybeCompact(spark: SparkSession, path: String,
      maxSegments: Int): Boolean =
    IndexStore.withLock(spark, path) {
      if (IndexStore.segmentCount(spark, path) <= maxSegments) false
      else { compact(spark, path); true }
    }
}

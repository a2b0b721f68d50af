package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import IndexStore.{Append, Rel, Replace}

/** Persisted MinHash-LSH dedup index: the build-once / dedup-every-batch
  * shape for a corpus that grows by deliveries. `minhashDedup` re-shingles
  * the WHOLE corpus per run; at 100 TB the economics invert — the corpus
  * text is scanned once ever, and what's kept is its compressed
  * derivatives:
  *
  *   meta       (n, bands, rowsPerBand) — shingle/banding geometry
  *   shingles   (id, sh: long)          — hashed shingle table
  *   sizes      (id, n_sh)              — per-doc distinct-shingle count
  *   df         (sh, cnt)               — doc-frequency PARTIAL counts
  *   buckets    (id, band, bucket)      — LSH bucket memberships
  *   tombstones (id)                    — deleted docs awaiting [[compact]]
  *
  * Storage runs on [[IndexStore]]'s segment+manifest layout: every
  * mutation ([[build]], [[append]], [[ingestBatch]], [[delete]],
  * [[compact]]) writes an immutable `seg-*` directory under the writer
  * lock and atomically publishes a manifest version; a dedup racing a
  * compaction pins one version and sees exactly the old or the new
  * index — never a half-swapped directory.
  *
  * `df` is append-only partial counts summed on read — incremental
  * maintenance without rewriting history; a shingle that drifts past
  * `maxDF` as the corpus grows is correctly re-classified as a stop
  * shingle on the NEXT batch, exactly as a full recompute would, and
  * [[delete]] retracts a document's df contributions with NEGATIVE
  * partials the same sum nets out.
  *
  * [[dedupBatch]] finds every near-dup pair involving a new-batch doc
  * (new-vs-index and new-vs-new) while touching the old corpus only
  * through those derivatives: candidate generation broadcasts the new
  * batch's (band, bucket) keys against the saved buckets (longs, never
  * text), and exact verification reads old shingle SETS only for docs
  * that appear in some candidate pair (left-semi). Verified values are
  * identical to what [[Dedup.minhashDedup]] over the full corpus reports
  * for the same pairs — same df suppression, same exact-Jaccard — which
  * is what the q_dedup_incremental gate pins against the oracle.
  */
object DedupIndex extends IndexFamily {

  val kind = "dedup"
  val live = ("sizes", "id")
  val needs = Some("text")

  final case class Meta(n: Int, bands: Int, rowsPerBand: Int)

  private def perms(m: Meta): Int = m.bands * m.rowsPerBand

  /** Shingle, size, df-delta, and bucket frames for one batch of docs —
    * the per-delivery encode, shared by build/append/dedupBatch. The
    * shingle table is persisted by the caller's lifecycle (one scan
    * feeds all four derivatives).
    */
  private def encode(docs: DataFrame, id: Column, text: Column, m: Meta)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val sh = Dedup.hashedShingles(docs, id, text, m.n)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n_sh"))
    val dfDelta = sh.groupBy("sh").agg(count(lit(1)).as("cnt"))
    val buckets = Dedup.bucketsFromSignatures(
      Dedup.signaturesFromShingles(sh, perms(m)), m.bands, m.rowsPerBand)
    (sh, sizes, dfDelta, buckets)
  }

  def build(docs: DataFrame, id: Column, text: Column, path: String,
      n: Int = 3, bands: Int = 16, rowsPerBand: Int = 4): Unit = {
    val spark = docs.sparkSession
    val m = Meta(n, bands, rowsPerBand)
    val (sh, sizes, dfDelta, buckets) = encode(docs, id, text, m)
    val shP = sh.persist()
    try IndexStore.commit(spark, path, "build", Replace())(
      derivatives(shP, sizes, dfDelta, buckets) :+ metaRel(spark, m): _*)
    finally shP.unpersist()
  }

  private def metaRel(spark: SparkSession, m: Meta): Rel = {
    import spark.implicits._
    Rel("meta")(Seq((m.n, m.bands, m.rowsPerBand))
      .toDF("n", "bands", "rows_per_band").coalesce(1).write.parquet(_))
  }

  /** The four derivative relations — independent writes over one
    * persisted shingle table, overlapped by the commit.
    */
  private def derivatives(sh: DataFrame, sizes: DataFrame,
      dfDelta: DataFrame, buckets: DataFrame): Seq[Rel] = Seq(
    Rel("shingles")(sh.write.parquet(_)),
    Rel("sizes")(sizes.write.parquet(_)),
    Rel("df")(dfDelta.write.parquet(_)),
    Rel("buckets")(buckets.write.parquet(_)))

  /** Append one delivery: encode the delta against the saved geometry and
    * publish its derivatives as a new segment — the old corpus is not
    * read at all.
    */
  def append(spark: SparkSession, path: String, newDocs: DataFrame,
      id: Column, text: Column): Unit = {
    val m = readMeta(spark, path)
    val (sh, sizes, dfDelta, buckets) = encode(newDocs, id, text, m)
    val shP = sh.persist()
    // an empty delivery must not publish a zero-row segment — empty
    // parquet dirs break later schema inference
    try if (!shP.isEmpty) IndexStore.commit(spark, path, "append", Append)(
      derivatives(shP, sizes, dfDelta, buckets): _*)
    finally shP.unpersist()
  }

  private[ext] def admit(spark: SparkSession, path: String,
      fresh: DataFrame): Unit =
    append(spark, path, fresh, col("id"), col("text"))

  def readMeta(spark: SparkSession, path: String): Meta =
    metaOf(IndexStore.snapshot(spark, path))

  private def metaOf(snap: IndexStore.Snapshot): Meta =
    IndexStore.cachedMeta(snap) {
      val r = snap.read("meta")
        .getOrElse(sys.error(s"dedup index at ${snap.root} has no meta"))
        .head()
      Meta(r.getAs[Int]("n"), r.getAs[Int]("bands"),
        r.getAs[Int]("rows_per_band"))
    }

  /** The saved bucket table with tombstoned docs masked out — candidate
    * generation must never pair against a deleted doc. Scope-aware
    * ([[IndexStore.liveRows]]): a doc re-ingested after a delete is
    * live again via its new delivery's rows.
    */
  private def liveBuckets(snap: IndexStore.Snapshot): DataFrame =
    IndexStore.liveRows(snap, "buckets", key = "id")

  /** All near-dup pairs (id_a < id_b, exact stop-shingle-suppressed
    * Jaccard ≥ threshold) involving at least one doc of `newDocs`,
    * against the index at `path` PLUS the new batch itself. Does NOT
    * mutate the index — call [[append]] afterwards to admit the batch.
    */
  def dedupBatch(spark: SparkSession, path: String, newDocs: DataFrame,
      id: Column, text: Column, threshold: Double,
      maxDF: Long = Long.MaxValue): DataFrame =
    dedupAgainst(IndexStore.snapshot(spark, path), newDocs, id, text,
      threshold, maxDF)

  /** [[dedupBatch]] against a PINNED manifest version
    * ([[IndexStore.snapshotAt]]) — time travel within the GC retention
    * window, same contract as [[TextSearch.searchSavedAt]]: a batch
    * dedups against the index exactly as committed at `version`,
    * regardless of appends/deletes/compactions that landed since (the
    * meta, derivatives, and tombstones all resolve against that one
    * version). The audit shape: re-run yesterday's admission decision
    * verbatim.
    */
  def dedupBatchAt(spark: SparkSession, path: String, version: Long,
      newDocs: DataFrame, id: Column, text: Column, threshold: Double,
      maxDF: Long = Long.MaxValue): DataFrame =
    dedupAgainst(IndexStore.snapshotAt(spark, path, version), newDocs,
      id, text, threshold, maxDF)

  private def dedupAgainst(snap: IndexStore.Snapshot, newDocs: DataFrame,
      id: Column, text: Column, threshold: Double,
      maxDF: Long): DataFrame = {
    val m = metaOf(snap)
    val (newSh0, newSizes, newDfDelta, newBuckets0) =
      encode(newDocs, id, text, m)
    val newSh = newSh0.persist()
    val newBuckets = newBuckets0.persist()
    try dedupEncoded(snap, newSh, newSizes, newDfDelta, newBuckets,
      threshold, maxDF)
    finally { Seq(newSh, newBuckets).foreach(_.unpersist()); () }
  }

  /** Candidate generation + exact verification against the saved
    * derivatives for an already-encoded (and persisted) batch — the
    * shared core of [[dedupBatch]] and [[ingestBatch]]. All reads
    * resolve against ONE pinned snapshot, so a concurrent append or
    * compact cannot tear the view mid-operation.
    */
  private def dedupEncoded(snap: IndexStore.Snapshot,
      newSh: DataFrame, newSizes: DataFrame, newDfDelta: DataFrame,
      newBuckets: DataFrame, threshold: Double, maxDF: Long): DataFrame = {
    // Candidates: the new batch's bucket keys are the broadcast side —
    // the saved buckets stream through one hash join keyed on
    // (band, bucket); old ids never pair with each other. Raw pair
    // streams (old-vs-new, new-vs-new) union into ONE distinct — the
    // per-stream distincts this used to run were three shuffles where
    // one suffices.
    val old = liveBuckets(snap)
    val crossRaw = old.as("o")
      .join(broadcast(newBuckets).as("nw"),
        col("o.band") === col("nw.band") &&
          col("o.bucket") === col("nw.bucket") &&
          col("o.id") =!= col("nw.id"))
      .select(least(col("o.id"), col("nw.id")).as("id_a"),
        greatest(col("o.id"), col("nw.id")).as("id_b"))
    val withinRaw = newBuckets.as("a")
      .join(newBuckets.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    // the candidate set feeds three consumers (two id-restriction
    // semi-joins and the final score join) and the doc-set frame is
    // broadcast twice — persist both or the bucket-join/groupBy DAG
    // re-executes per consumer (measured 5-30× the single-run cost)
    val cands = crossRaw.unionByName(withinRaw).distinct().persist()

    // Exact verification from the derivatives: global df (saved partials
    // + this batch), sizes and rare-shingle sets restricted to docs some
    // candidate references. With no df cap the df table is irrelevant —
    // skip its scan and groupBy entirely (the common streaming-ingest
    // configuration, where batch-invariant values need the cap off).
    // Shingle/size reads must be LIVE (scope-aware), not raw: a doc
    // deleted and later re-ingested has masked old rows AND live new
    // rows under the same id — a raw read would double its shingle set.
    // The semi-join still bounds the scan to candidate docs; the df sum
    // nets out deletions via their negative partials.
    val candIds = cands.select(col("id_a").as("id"))
      .unionAll(cands.select(col("id_b").as("id"))).distinct()
    val shAll = IndexStore.liveRows(snap, "shingles", key = "id")
      .unionByName(newSh)
      .join(candIds, Seq("id"), "left_semi")
    val rare =
      if (maxDF == Long.MaxValue) shAll
      else {
        val dfAll = snap.read("df").get.unionByName(newDfDelta)
          .groupBy("sh").agg(sum("cnt").as("df"))
        shAll.join(dfAll.filter(col("df") <= maxDF).select("sh"), "sh")
      }
    val sizesAll = IndexStore.liveRows(snap, "sizes", key = "id")
      .unionByName(newSizes)
      .join(candIds, Seq("id"), "left_semi")
    val sets = rare.groupBy("id").agg(collect_list("sh").as("shs"))
      .join(sizesAll, "id").persist()
    // materialize the (small) pair result eagerly so every cached
    // intermediate can be freed HERE — in the foreachBatch streaming path
    // this runs per micro-batch, and leaked cache entries would otherwise
    // accumulate for the lifetime of the stream. Scoring auto-shards its
    // broadcast build side to a memory budget: with a low df cap the
    // candidate-doc set can approach the corpus, and an unsharded
    // broadcast of per-doc shingle arrays would OOM the driver at scale.
    val scored = Dedup.scoreCandidatesAuto(cands, sets, threshold)
      .localCheckpoint(true)
    Seq(cands, sets).foreach(_.unpersist())
    scored
  }

  /** [[dedupBatch]] + [[append]] fused: the per-delivery ingest step.
    * Calling the two separately re-runs the batch's tokenize → shingle →
    * sign → bucket encode twice (once to dedup, once to admit); here one
    * persisted encode feeds both the pair search and the appended
    * derivatives. Results are identical to `dedupBatch` followed by
    * `append` — DedupIndexSpec pins that equivalence.
    */
  def ingestBatch(spark: SparkSession, path: String, newDocs: DataFrame,
      id: Column, text: Column, threshold: Double,
      maxDF: Long = Long.MaxValue): DataFrame = {
    val snap = IndexStore.snapshot(spark, path)
    val m = readMeta(spark, path)
    val (newSh0, newSizes, newDfDelta, newBuckets0) =
      encode(newDocs, id, text, m)
    val newSh = newSh0.persist()
    val newBuckets = newBuckets0.persist()
    try {
      val scored = dedupEncoded(snap, newSh, newSizes, newDfDelta,
        newBuckets, threshold, maxDF)
      if (!newSh.isEmpty) IndexStore.commit(spark, path, "append", Append)(
        derivatives(newSh, newSizes, newDfDelta, newBuckets): _*)
      scored
    } finally Seq(newSh, newBuckets).foreach(_.unpersist())
  }

  /** Retract documents from the index without re-reading any corpus
    * text: one scan of the saved shingle table (restricted to the
    * broadcast delete batch) computes NEGATIVE df partials, and the ids
    * are tombstoned so candidate generation masks them immediately.
    * Subsequent [[dedupBatch]] results are identical to an index built
    * over the surviving corpus — the q_dedup_delete gate pins that
    * against the oracle. [[compact]] applies tombstones physically. Ids
    * already tombstoned or absent are ignored (no double-subtract).
    */
  override def delete(spark: SparkSession, path: String, ids: DataFrame,
      idCol: Column): Unit = IndexStore.withLock(spark, path) {
    val snap = IndexStore.snapshot(spark, path)
    val requested = ids.select(idCol.as("id")).distinct()
    // the doomed contributions come from LIVE shingles (Bloom-segment-
    // pruned: only deliveries that may hold the requested ids are
    // read): an id that is already fully masked contributes nothing
    // (idempotent, never a double-subtract), while a re-added id's
    // live rows — its newest delivery — are exactly what this delete
    // must retract
    val dead = IndexStore.liveRowsAmong(snap, "shingles", "id", requested)
      .join(broadcast(requested), "id").persist()
    try if (!dead.isEmpty) {
      // scope over every masked derivative's segments: the tombstone
      // binds deliveries present NOW; later re-adds stay live
      IndexStore.commit(spark, path, "delete", Append)(
        Rel("df")(dead.groupBy("sh").agg((-count(lit(1))).as("cnt"))
          .write.parquet(_)) +:
        IndexStore.tombstones(dead.select("id").distinct(),
          (snap.segments("shingles") ++ snap.segments("sizes") ++
            snap.segments("buckets")).distinct): _*)
      ()
    } finally dead.unpersist()
  }

  /** Index maintenance: every [[append]] adds one more df-partials
    * delta (and one more file set per derivative), so a long-lived
    * streaming index accumulates small files and its df read degrades
    * into summing thousands of partials. Compaction rewrites each
    * derivative clustered (df partials SUMMED to one row per shingle —
    * deletion negatives netted, zero-or-below rows dropped; tombstoned
    * docs' rows physically removed; shingles/sizes/buckets clustered by
    * id) into a fresh segment and atomically publishes it — semantics
    * are unchanged by construction, which DedupIndexSpec pins by
    * comparing dedupBatch results before and after. A reader racing
    * this pins the old manifest and keeps its files through the GC
    * retention window. Run it on the cadence appends warrant (the same
    * small-files economics as [[graft.billing.BillingStore.compactRaw]]).
    */
  def compact(spark: SparkSession, path: String,
      retainVersions: Int = 2): Unit =
    IndexStore.withLock(spark, path) {
      val snap = IndexStore.snapshot(spark, path)
      val m = readMeta(spark, path)
      def live(rel: String): String => Unit =
        IndexStore.liveRows(snap, rel, key = "id").repartition(col("id"))
          .write.parquet(_)
      IndexStore.commit(spark, path, "compact", Replace(retainVersions))(
        metaRel(spark, m),
        Rel("df")(snap.read("df").get
          .groupBy("sh").agg(sum("cnt").as("cnt"))
          .filter(col("cnt") > 0)
          .write.parquet(_)),
        Rel("shingles")(live("shingles")),
        Rel("sizes")(live("sizes")),
        Rel("buckets")(live("buckets")))
      ()
    }

  /** [[stats]] gauges for the near-dup index: `live_docs` (indexed
    * documents the bands currently admit against),
    * `df_partial_segments` — segments carrying shingle-df partials,
    * i.e. how many per-delivery partial sets every batch probe re-sums
    * for its maxDF pruning until [[compact]] folds them (the BM25
    * lexicon gauge). Sizes/df-relation- and metadata-bounded; the
    * shingle relation is never scanned.
    */
  protected def gauges(snap: IndexStore.Snapshot): Seq[(String, Long)] =
    Seq(
      "df_partial_segments" -> snap.segments("df").size.toLong,
      "live_docs" -> IndexStore.liveRows(snap, "sizes", key = "id").count())

  /** Candidate pairs touching an affected doc, straight from the SAVED
    * buckets: the affected ids ride a broadcast into a (band, bucket)-
    * keyed hash join — never a cartesian (plan-pinned in
    * DedupIndexSpec).
    */
  private[ext] def affectedCandidatePairs(snap: IndexStore.Snapshot,
      affected: DataFrame): DataFrame = {
    val buckets = liveBuckets(snap)
    buckets.join(broadcast(affected), Seq("id")).as("x")
      .join(buckets.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.id") =!= col("y.id"))
      .select(least(col("x.id"), col("y.id")).as("id_a"),
        greatest(col("x.id"), col("y.id")).as("id_b"))
      .distinct()
  }

  private[ext] def affectedCandidatePairs(spark: SparkSession,
      path: String, affected: DataFrame): DataFrame =
    affectedCandidatePairs(IndexStore.snapshot(spark, path), affected)

  /** Re-verify previously ADMITTED pairs whose df-capped Jaccard would
    * change if `newDocs` were appended: a shingle whose document
    * frequency crosses `maxDF` because of the batch becomes a stop
    * shingle for EVERY doc containing it, which re-scores old pairs a
    * plain [[dedupBatch]] never revisits (it only pairs new docs). Run
    * this alongside `dedupBatch` before [[append]] when a df cap is in
    * use — the manual recipe in DedupIndexSpec's drift test, made an
    * operator.
    *
    * Returns one row per affected admitted pair — both members in the
    * index, at least one containing a crossing shingle, `jaccard_old ≥
    * threshold` — with the pre/post values and the post-batch verdict:
    * (id_a, id_b, jaccard_old, jaccard_new, is_dup). Pairs that were
    * never admitted are not re-reported (a below-threshold pair whose
    * score RISES past the threshold is caught, because suppression of a
    * one-sided shingle shrinks the union — those arrive with
    * jaccard_old < threshold and are filtered; callers wanting them can
    * lower `threshold`).
    *
    * Scale shape: crossing shingles are the df band (maxDF − delta,
    * maxDF] restricted to the batch's shingles — a small broadcast;
    * affected docs come from one semi-join on the shingle table;
    * candidate pairs are read from the SAVED buckets (LSH candidacy is
    * df-independent, so the admitted universe is exactly the index's
    * own), and exact re-scoring is restricted left-semi to docs some
    * affected pair references. Never all-pairs, never a corpus rescan.
    */
  def reverifyDrift(spark: SparkSession, path: String, newDocs: DataFrame,
      id: Column, text: Column, threshold: Double,
      maxDF: Long): DataFrame = {
    val snap = IndexStore.snapshot(spark, path)
    val m = readMeta(spark, path)
    val delta = Dedup.hashedShingles(newDocs, id, text, m.n)
      .groupBy("sh").agg(count(lit(1)).as("delta"))
    // the summed df table feeds two consumers (crossing detection and
    // the per-doc annotation) — persist it or the partials scan+groupBy
    // runs twice
    val dfOld = snap.read("df").get
      .groupBy("sh").agg(sum("cnt").as("df_old")).persist()
    // only shingles the batch contains can cross the cap
    val crossing = dfOld.join(delta, "sh")
      .filter(col("df_old") <= maxDF && col("df_old") + col("delta") > maxDF)
      .select("sh").persist()
    val oldSh = IndexStore.liveRows(snap, "shingles", key = "id")
    val affected = oldSh.join(broadcast(crossing), "sh")
      .select("id").distinct()
    val pairs = affectedCandidatePairs(snap, affected).persist()
    val candIds = pairs.select(col("id_a").as("id"))
      .unionAll(pairs.select(col("id_b").as("id"))).distinct()
    // post-batch suppression = pre-batch suppression ∪ crossing, so one
    // annotated scan of the candidate docs' shingles yields BOTH regimes'
    // sets in a single groupBy: `shs_old` keeps every pre-batch-rare
    // shingle, `shs_new` drops the crossing ones (collect_list skips the
    // NULLs the `when` emits). One dual-array scoring pass then replaces
    // the two full scorings + (id_a, id_b) re-join this used to run.
    val rareOld = oldSh.join(candIds, Seq("id"), "left_semi")
      .join(dfOld, "sh").filter(col("df_old") <= maxDF)
      .join(broadcast(crossing.withColumn("crossed", lit(true))),
        Seq("sh"), "left")
    val sizes = IndexStore.liveRows(snap, "sizes", key = "id")
      .join(candIds, Seq("id"), "left_semi")
    // left join + empty-array default: a doc whose every shingle is
    // suppressed must still score (jaccard 0), not drop its pairs
    val sets = sizes
      .join(rareOld.groupBy("id").agg(
          collect_list("sh").as("shs_old"),
          collect_list(when(col("crossed").isNull, col("sh"))).as("shs_new")),
        Seq("id"), "left")
      .select(col("id"),
        coalesce(col("shs_old"), array().cast("array<bigint>")).as("shs_old"),
        coalesce(col("shs_new"), array().cast("array<bigint>")).as("shs_new"),
        col("n_sh"))
      .persist()
    val out = scoreDrift(pairs, sets, threshold).localCheckpoint(true)
    Seq(dfOld, crossing, pairs, sets).foreach(_.unpersist())
    out
  }

  /** Dual-regime scoring: ONE broadcast pair join computes jaccard under
    * both the pre- and post-batch suppression sets. The build side is
    * auto-sharded to `budgetBytes` via [[Dedup.chooseShards]] — with a
    * low df cap the affected-doc set approaches the corpus, and an
    * unsharded broadcast of per-doc shingle arrays was the one place
    * this operator could OOM the driver at scale. Inputs must be
    * persisted by the caller (the shard loop re-reads them).
    */
  private def scoreDrift(pairs: DataFrame, sets: DataFrame,
      threshold: Double, budgetBytes: Long = 256L << 20): DataFrame = {
    val st = sets.agg(
      coalesce(count(lit(1)), lit(0L)).as("docs"),
      coalesce(sum(size(col("shs_old")) + size(col("shs_new"))), lit(0L))
        .as("tot")).head()
    val shards = Dedup.chooseShards(st.getLong(0), st.getLong(1), budgetBytes)
    def score(p: DataFrame, ss: DataFrame): DataFrame = {
      val a = broadcast(ss.select(col("id").as("id_a"),
        col("shs_old").as("so_a"), col("shs_new").as("sn_a"),
        col("n_sh").as("n_a")))
      val b = broadcast(ss.select(col("id").as("id_b"),
        col("shs_old").as("so_b"), col("shs_new").as("sn_b"),
        col("n_sh").as("n_b")))
      p.join(a, "id_a").join(b, "id_b")
        .withColumn("c_old",
          size(array_intersect(col("so_a"), col("so_b"))).cast("long"))
        .withColumn("c_new",
          size(array_intersect(col("sn_a"), col("sn_b"))).cast("long"))
        .select(col("id_a"), col("id_b"),
          (col("c_old").cast("double") /
            (col("n_a") + col("n_b") - col("c_old"))).as("jaccard_old"),
          (col("c_new").cast("double") /
            (col("n_a") + col("n_b") - col("c_new"))).as("jaccard_new"))
    }
    val scored =
      if (shards == 1) score(pairs, sets)
      else (0 until shards).map { k =>
        val pc = pairs.filter(
          pmod(xxhash64(col("id_a"), col("id_b")), lit(shards)) === k)
        val ids = pc.select(col("id_a").as("id"))
          .unionAll(pc.select(col("id_b").as("id"))).distinct()
        score(pc, sets.join(ids, Seq("id"), "left_semi"))
      }.reduce(_ unionAll _)
    scored.filter(col("jaccard_old") >= threshold)
      .withColumn("is_dup", col("jaccard_new") >= threshold)
  }
}

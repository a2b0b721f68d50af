package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: a KMeans coarse
  * quantizer partitions the corpus into cells; a query scores only the
  * `nProbe` cells whose centroids are nearest, instead of the full corpus.
  *
  * Scale shape: the assignment is one ML pass (trainable on a sample);
  * the assigned corpus is written partitioned/clustered by cell so a
  * search is `nProbe` co-located partition reads plus a per-query top-k —
  * corpus/cells × nProbe rows scored per query. Complements the
  * hyperplane-LSH variant in [[EmbeddingSearch]] (IVF adapts to the data
  * distribution; LSH is oblivious and build-free).
  */
object IvfIndex extends VectorFamily {

  val kind = "ivf"
  val live = ("cells", "vec_id")
  protected val sidecars = Seq("centroids")

  final case class Model(centroids: DataFrame, assigned: DataFrame)

  /** Fit the coarse quantizer and assign every vector to a cell.
    * `assigned`: (vec_id, v: array<double>, nrm, cell); `centroids`:
    * (cell, cv: array<double>).
    */
  def build(embs: DataFrame, k: Int, seed: Long = 42L,
      sampleFraction: Double = 1.0, maxIter: Int = 10): Model = {
    val prepared = EmbeddingSearch.prepared(embs)
      .withColumn("features", array_to_vector(col("v")))
    val trainSet =
      if (sampleFraction < 1.0) prepared.sample(sampleFraction, seed)
      else prepared
    // a coarse quantizer only has to be roughly balanced — capping the
    // iterations halves index-build time with no recall change worth the
    // name (re-measured per change; the gate pins the recall floor)
    val kmeans = new KMeans().setK(k).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").setPredictionCol("cell")
    val model = kmeans.fit(trainSet)
    val spark = embs.sparkSession
    val centroids = spark.createDataFrame(
      model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) })
      .toDF("cell", "cv")
    Model(centroids, model.transform(prepared).drop("features"))
  }

  /** Persist the index: centroids (k tiny rows) plus the corpus-sized
    * cell assignment as (vec_id, cell) parquet, PARTITIONED BY cell —
    * the on-disk layout the IVF design promises: a probe of `nProbe`
    * cells is nProbe co-located partition reads, and a filter on `cell`
    * prunes at the file index instead of scanning the assignment.
    * Vectors are NOT duplicated — the corpus table remains the source of
    * truth for `v`; [[load]] re-attaches them (same build-once/reuse
    * design as [[PqIndex.save]]).
    *
    * Storage runs on [[IndexStore]]'s segment+manifest layout, like the
    * BM25 and dedup indexes: every mutation ([[save]], [[saveAppend]],
    * [[delete]], [[compact]]) writes an immutable `seg-*` directory
    * under the writer lock and atomically publishes a manifest version,
    * so a search racing a compaction pins exactly the old or the new
    * index, and [[loadAt]] time-travels within the GC retention window.
    */
  def save(model: Model, path: String, retainVersions: Int = 2): Unit =
    commitReplace(model.centroids.sparkSession, path, model.assigned,
      Seq(model.centroids), retainVersions, "build")

  /** The (vec_id, cell) assignment, PARTITIONED BY cell. */
  override protected def writeLive(assigned: DataFrame, dir: String): Unit =
    assigned.select("vec_id", "cell")
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(dir)

  /** Assign new vectors to their nearest EXISTING centroid — the frozen
    * quantizer's prediction spelled as a map-side argmin over the
    * broadcast-literal centroid list (k rows collected to the driver —
    * bounded by k, not the corpus). First-minimum tie-break matches
    * ml.KMeans prediction order.
    */
  def assignNew(model: Model, embs: DataFrame): DataFrame = {
    val cents: Seq[Seq[Double]] = model.centroids.orderBy("cell").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("cv")).toSeq).toSeq
    val dists = transform(typedLit(cents),
      c => EmbeddingSearch.l2sq(c, col("v")))
    EmbeddingSearch.prepared(embs).withColumn("cell",
      (array_position(dists, array_min(dists)) - 1).cast("int"))
  }

  /** In-memory append of newly-arrived vectors (quantizer unchanged). */
  def append(model: Model, newEmbs: DataFrame): Model =
    model.copy(assigned = model.assigned.unionByName(assignNew(model, newEmbs)))

  /** Cell maintenance: SPLIT every cell holding more than `maxCellSize`
    * vectors. Appends under a frozen quantizer grow cells without bound
    * (and skewed corpora start that way); since a probe scans whole
    * cells, the biggest cell bounds per-query latency — this is the
    * rebalance knob that keeps it bounded without retraining the whole
    * quantizer.
    *
    * Each oversized cell is re-clustered into ceil(n/maxCellSize)
    * sub-cells by the same deterministic driver-local Lloyd's the PQ
    * codebooks use ([[PqIndex.lloyd]]), trained on a bounded per-cell
    * sample (`sampleCap` rows ranked by vector-id hash — one bounded
    * collect, never a cell's full contents). Member vectors reassign
    * map-side via a broadcast-literal argmin over their cell's new
    * centers; untouched cells keep their ids, rows, and layout. The
    * assignment stays a partition of the corpus by construction —
    * exhaustive probing before and after returns identical answers
    * (IvfIndexSpec pins both).
    *
    * One invocation splits at most the `maxCellsPerPass` LARGEST
    * oversized cells, so the driver's collected sample is bounded by
    * `maxCellsPerPass × sampleCap` vectors regardless of how skewed the
    * index is — a corpus with hundreds of hot cells rebalances over
    * several invocations (worst first, where the latency win is)
    * instead of piling every cell's sample into one driver heap.
    */
  def rebalance(model: Model, maxCellSize: Long, sampleCap: Int = 10000,
      maxIter: Int = 10, seed: Long = 42L,
      maxCellsPerPass: Int = 64): Model = {
    import org.apache.spark.sql.expressions.Window
    val sizes = model.assigned.groupBy("cell")
      .agg(count(lit(1)).as("n")).filter(col("n") > maxCellSize)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    if (sizes.isEmpty) model
    else {
      // worst-N per pass; ties broken by cell id for determinism
      val overs = sizes.toSeq.sortBy { case (c, n) => (-n, c) }
        .take(maxCellsPerPass).map(_._1).sorted
      // bounded deterministic per-cell sample for the split training
      val w = Window.partitionBy("cell").orderBy(xxhash64(col("vec_id")))
      val sample = model.assigned.filter(col("cell").isin(overs: _*))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= sampleCap)
        .select("cell", "v").collect()
        .groupBy(_.getInt(0))
        .view.mapValues(_.map(_.getSeq[Double](1).toArray)).toMap
      val maxCell = model.centroids.agg(max("cell")).head().getInt(0)
      var nextId = maxCell + 1
      val splits = overs.map { c =>
        val kSplit = math.max(2, math.min(
          math.ceil(sizes(c).toDouble / maxCellSize).toInt,
          sample(c).length))
        val cents = PqIndex.lloyd(sample(c), kSplit, maxIter, seed + c)
        val base = nextId
        nextId += cents.length
        (c, base, cents)
      }
      val spark = model.centroids.sparkSession
      import spark.implicits._
      val centroids = model.centroids.filter(!col("cell").isin(overs: _*))
        .unionByName(splits.flatMap { case (_, base, cents) =>
          cents.zipWithIndex.map { case (cv, i) => (base + i, cv.toSeq) }
        }.toDF("cell", "cv"))
      // map-side reassignment: per split cell, argmin over its new
      // centers (broadcast literals; first-minimum tie-break like
      // assignNew)
      val reassigned = splits.foldLeft(lit(-1)) {
        case (acc, (c, base, cents)) =>
          val dists = transform(typedLit(cents.map(_.toSeq).toSeq),
            ct => EmbeddingSearch.l2sq(ct, col("v")))
          when(col("cell") === c,
            (array_position(dists, array_min(dists)) - 1).cast("int")
              + base).otherwise(acc)
      }
      val assigned = model.assigned.withColumn("cell",
        when(col("cell").isin(overs: _*), reassigned)
          .otherwise(col("cell")))
      Model(centroids, assigned)
    }
  }

  /** [[rebalance]] applied to a SAVED index in one committed
    * maintenance pass: load the live assignment (vectors re-attached
    * from `embs`, the corpus source of truth), split the oversized
    * cells, and publish the rebalanced centroids + cells as a manifest
    * pointer swap. Exhaustive-probe answers are unchanged by
    * construction (a rebalance re-partitions the corpus into cells);
    * a reader racing the commit pins the old or the new layout.
    */
  def rebalanceSaved(spark: SparkSession, path: String, embs: DataFrame,
      maxCellSize: Long, sampleCap: Int = 10000, maxIter: Int = 10,
      seed: Long = 42L, maxCellsPerPass: Int = 64,
      retainVersions: Int = 2): Unit =
    IndexStore.withLock(spark, path) {
      val model = load(spark, path, embs)
      val reb = rebalance(model, maxCellSize, sampleCap, maxIter, seed,
        maxCellsPerPass)
      commitReplace(spark, path, reb.assigned, Seq(reb.centroids),
        retainVersions, "rebalance")
    }

  /** The biggest LIVE cell of a saved index — the per-probe-latency
    * gauge [[maybeRebalance]] fires on. One aggregate over the
    * (vec_id, cell) assignment relation: index-relation-bounded (two
    * small columns), never a corpus read.
    */
  def maxLiveCell(spark: SparkSession, path: String): Long =
    biggestCell(IndexStore.snapshot(spark, path), "cells")

  /** The biggest live cell of a cell-partitioned `relation` — shared
    * with [[IvfPqIndex.maxLiveCell]].
    */
  private[ext] def biggestCell(snap: IndexStore.Snapshot,
      relation: String): Long = {
    val row = IndexStore.liveRows(snap, relation)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(max("n")).head()
    if (row.isNullAt(0)) 0L else row.getLong(0)
  }

  /** Fire [[rebalanceSaved]] once the biggest live cell crosses
    * `maxCellSize` — the [[KnnGraphIndex.maybeRewire]] debt policy
    * applied to the TRAINED family, closing the "nothing ever calls
    * rebalance" gap: [[saveAppend]] assigns under a FROZEN quantizer,
    * so a drifting delivery stream skews cells without bound, and
    * since a probe scans whole cells the biggest cell IS the
    * per-query latency at 100 TB. [[Takedown.maintain]] runs this for
    * every registered `ivf` surface whose registry also carries a
    * vector store of record (the corpus the re-clustering needs).
    * Gauge read and fire share one writer-lock scope, so two
    * concurrent sweeps cannot both observe the oversized cell and
    * both pay the split. Returns whether a rebalance ran.
    */
  def maybeRebalance(spark: SparkSession, path: String, embs: DataFrame,
      maxCellSize: Long, maxCellsPerPass: Int = 64): Boolean =
    IndexStore.withLock(spark, path) {
      val due = maxLiveCell(spark, path) > maxCellSize
      if (due) rebalanceSaved(spark, path, embs, maxCellSize,
        maxCellsPerPass = maxCellsPerPass)
      due
    }

  /** [[stats]] gauges — the numbers that decide [[maybeRebalance]]:
    * `cells` (live cells), `cell_min`/`cell_max` (the live occupancy
    * envelope over non-empty cells — `cell_max` is the per-probe
    * latency bound, and a wide min/max spread is the skew gauge);
    * `live_rows` (live assignment rows = the index's corpus coverage).
    * Cost is one aggregate over the two-column assignment relation —
    * index-relation-bounded, never a corpus read. q_index_stats
    * value-checks every number.
    */
  protected def gauges(snap: IndexStore.Snapshot): Seq[(String, Long)] =
    occupancy(snap, "cells", "live_rows")

  /** The live cell-occupancy envelope of a cell-partitioned `relation`
    * plus its live row count (named `rows`) — shared with
    * [[IvfPqIndex]]'s gauges.
    */
  private[ext] def occupancy(snap: IndexStore.Snapshot, relation: String,
      rows: String): Seq[(String, Long)] = {
    val occ = IndexStore.liveRows(snap, relation)
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("cells"), min("n").as("lo"),
        max("n").as("hi"), sum("n").as("rows"))
      .head()
    def longAt(i: Int): Long = if (occ.isNullAt(i)) 0L else occ.getLong(i)
    Seq("cell_max" -> longAt(2), "cell_min" -> longAt(1),
      "cells" -> longAt(0), rows -> longAt(3))
  }

  /** Assign `newEmbs` with the frozen quantizer and append their cells
    * (an idle micro-batch can drive this safely).
    */
  def saveAppend(model: Model, newEmbs: DataFrame, path: String): Unit =
    appendLive(model.centroids.sparkSession, path, assignNew(model, newEmbs))

  override private[ext] def maintainQuality(spark: SparkSession,
      path: String, maxGraphDebt: Int, maxCell: Long,
      embs: => Option[DataFrame]): Boolean =
    maxCell > 0L && embs.exists(maybeRebalance(spark, path, _, maxCell))

  protected def loadSnapshot(snap: IndexStore.Snapshot,
      embs: DataFrame): Model =
    Model(snap.read("centroids").get, liveCorpus(snap, embs))

  /** INCREMENTAL embedding near-dup: dedup a DELTA of vectors against
    * an IVF-indexed corpus without an all-pairs join — the
    * embedding-side analogue of [[DedupIndex.dedupBatch]] (same
    * contract: pairs involving the batch, index not mutated; call
    * [[append]]/[[saveAppend]] to admit). Each new vector probes its
    * `nProbe` nearest cells under the FROZEN quantizer and pairs only
    * against those cells' members plus the batch's own assignments;
    * survivors are exact-cosine pairs ≥ `threshold`, canonicalized
    * (id_a < id_b). Cost ∝ batch × probed-cell membership, never
    * corpus². Bounded probes inherit IVF's recall (a cross-cell
    * near-dup at nProbe=1 is missed exactly as a probe miss);
    * EXHAUSTIVE probing is exact — every qualifying pair with a batch
    * side — which is how the gate value-checks the operator.
    */
  def dedupBatch(model: Model, newEmbs: DataFrame, threshold: Double,
      nProbe: Int = 1): DataFrame = {
    val newA = assignNew(model, newEmbs)
    val q = newA.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qnrm"))
    val d2 = EmbeddingSearch.dot(col("qv"), col("qv")) -
      lit(2.0) * EmbeddingSearch.dot(col("qv"), col("cv")) +
      EmbeddingSearch.dot(col("cv"), col("cv"))
    val cellRank = Window.partitionBy("query_id").orderBy(col("d2").asc)
    val probes = q.crossJoin(broadcast(model.centroids))
      .withColumn("d2", d2)
      .withColumn("cell_rank", row_number().over(cellRank))
      .filter(col("cell_rank") <= nProbe)
      .select("query_id", "qv", "qnrm", "cell")
    val members = model.assigned.select("vec_id", "v", "nrm", "cell")
      .unionByName(newA.select("vec_id", "v", "nrm", "cell"))
    members.join(probes, Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        EmbeddingSearch.dot(col("qv"), col("v")) /
          sqrt(col("qnrm") * col("nrm")))
      .filter(col("cos") >= threshold)
      .select(least(col("vec_id"), col("query_id")).as("id_a"),
        greatest(col("vec_id"), col("query_id")).as("id_b"),
        round(col("cos"), 6).as("cos"))
      .distinct()
  }

  /** Top-k per query, probing the `nProbe` nearest cells. */
  def search(model: Model, queryPred: Column, k: Int, nProbe: Int): DataFrame =
    searchImpl(model, EmbeddingSearch.asQueries(
      model.assigned.filter(queryPred)), k, nProbe, excludeSelf = true)

  /** METADATA-FILTERED top-k: neighbors are restricted to corpus rows
    * matching `where` ("nearest English documents", "nearest vectors in
    * this date range") while queries still come from the full corpus.
    * The filter applies BEFORE scoring inside the probed cells — a
    * probe reads nProbe cells and scores only survivors, and with the
    * cell-partitioned saved layout a filter on stored metadata also
    * prunes at the parquet reader. This is pre-filtering (exact over
    * the filtered set); post-filtering top-k would silently return
    * fewer than k when a filter decimates the neighborhood. With
    * exhaustive probes the result is EXACTLY brute force over the
    * filtered corpus (cells partition the corpus, so filtering commutes
    * with probing) — which is how the gate value-checks it.
    */
  def searchWhere(model: Model, queryPred: Column, where: Column, k: Int,
      nProbe: Int): DataFrame =
    searchImpl(model.copy(assigned = model.assigned.filter(where)),
      EmbeddingSearch.asQueries(model.assigned.filter(queryPred)),
      k, nProbe, excludeSelf = true)

  /** Top-k for EXTERNAL query vectors — `queries` is its own
    * (vec_id, embedding) frame, not a corpus subset; nothing is
    * self-excluded, so a query identical to a corpus row ranks it first
    * (lookup semantics). External queries need no cell assignment — the
    * probes come from ranking the broadcast centroids per query.
    */
  def searchVectors(model: Model, queries: DataFrame, k: Int,
      nProbe: Int): DataFrame =
    searchImpl(model,
      EmbeddingSearch.asQueries(EmbeddingSearch.prepared(queries)),
      k, nProbe, excludeSelf = false)

  /** PRECEDENCE-AWARE FEDERATED ANN across saved IVF indexes
    * ([[IndexFamily.federate]]'s semantics): `roots` ordered
    * highest-precedence first, each paired with the corpus frame its
    * cell assignment re-attaches, each over-fetching k×overFetch from
    * its OWN index. Each root keeps its own quantizer — federation
    * never requires co-trained centroids — and with EXHAUSTIVE probes
    * each root's answer is exactly brute force over its live corpus
    * (the [[searchWhere]] value-check trick), which is how the gate
    * hash-checks the whole federation.
    */
  def searchFederatedVectors(spark: SparkSession,
      roots: Seq[(String, DataFrame)], queries: DataFrame, k: Int,
      nProbe: Int, overFetch: Int = 4): DataFrame =
    federateVectors(spark, roots.map(_._1), k) { i =>
      searchVectors(load(spark, roots(i)._1, roots(i)._2), queries,
        k * overFetch, nProbe)
    }

  private def searchImpl(model: Model, q: DataFrame, k: Int, nProbe: Int,
      excludeSelf: Boolean): DataFrame = {
    // rank cells per query by centroid distance (centroids are tiny)
    val d2 = EmbeddingSearch.dot(col("qv"), col("qv")) -
      lit(2.0) * EmbeddingSearch.dot(col("qv"), col("cv")) +
      EmbeddingSearch.dot(col("cv"), col("cv"))
    val cellRank = Window.partitionBy("query_id").orderBy(col("d2").asc)
    val probes = q.crossJoin(broadcast(model.centroids))
      .withColumn("d2", d2)
      .withColumn("cell_rank", row_number().over(cellRank))
      .filter(col("cell_rank") <= nProbe)
      .select("query_id", "qv", "qnrm", "cell")
    EmbeddingSearch.rerankTopK(model.assigned.join(probes, Seq("cell"))
      .filter(if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true)),
      k)
  }
}

package graft.ext

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-PQ composite approximate nearest neighbor — the billion-scale
  * layout production ANN systems converge on (Jégou et al., TPAMI 2011,
  * §V "IVFADC"): an IVF coarse quantizer prunes WHICH corpus rows a
  * query scores ([[IvfIndex]]'s job) while product quantization of the
  * RESIDUAL `v̂ − centroid(cell)` shrinks WHAT each score costs
  * ([[PqIndex]]'s job). Residual encoding is what makes the composition
  * better than either part: vectors inside one cell share their
  * centroid, so their residuals live in a far smaller ball than raw
  * vectors — the same m×k codebook budget quantizes them with much less
  * distortion than whole-vector PQ.
  *
  * Scale shape at 100 TB: the search never touches raw vectors until
  * the re-rank — a query ranks the (tiny, broadcast) centroid list,
  * reads `nProbe` cells' (vec_id, code) rows (cell-partitioned parquet
  * → partition-pruned scan of a few bytes per row), ADC-scores them in
  * the compressed domain via one codegen'd lookup per row, and only the
  * per-query shortlist joins back to the corpus for the exact-cosine
  * re-rank. Everything corpus-sized is map-side or cell-pruned; the
  * only shuffles are the per-query top-k windows, bounded by
  * queries × probed rows, never the corpus.
  *
  * All geometry lives in unit space: the coarse quantizer trains on
  * unit-normalized vectors and the distance tables use the normalized
  * query, so squared-L2 ADC ranking orders candidates exactly as the
  * cosine ground truth does (same discipline as [[PqIndex.unit]]).
  */
object IvfPqIndex extends VectorFamily {

  val kind = "ivfpq"
  val live = ("codes", "vec_id")
  protected val sidecars = Seq("centroids", "codebooks")
  override protected def trained = true

  /** `centroids`: (cell, cv) — coarse centers in unit space, k rows.
    * `codebooks(j)`: k residual centroids for subspace j (shared across
    * cells — per-cell codebooks would multiply the table budget ×cells
    * for marginal recall at this corpus entropy). `encoded`:
    * (vec_id, v, nrm, cell, code) — raw vector kept for the re-rank,
    * code over the residual.
    */
  final case class Model(centroids: DataFrame, m: Int, dsub: Int,
      codebooks: Seq[Seq[Seq[Double]]], encoded: DataFrame)

  private def unit(v: Column, nrm: Column): Column =
    transform(v, x => x / sqrt(nrm))

  /** Residual of the unit vector against its cell's centroid. */
  private def residual(vn: Column, cv: Column): Column =
    zip_with(vn, cv, (x, c) => x - c)

  /** Codegen'd residual encoder (PqEncode with normalization OFF — the
    * residual is already in unit space; re-normalizing it would corrupt
    * the geometry).
    */
  private def codeColumn(res: Column, m: Int, dsub: Int,
      codebooks: Seq[Seq[Seq[Double]]]): Column = {
    import org.apache.spark.sql.graftbridge.Bridge
    Bridge.toColumn(graft.functions.PqEncode(
      Bridge.toExpr(res), m, dsub, codebooks.flatten.flatten.toArray,
      normalize = false))
  }

  /** Fit the coarse quantizer on unit vectors (distributed ml.KMeans —
    * the corpus-sized assignment must not run on the driver), then the
    * m residual codebooks on a bounded driver-collected residual sample
    * (PQ codebooks need thousands of points, not the corpus — same
    * measured rationale as [[PqIndex.build]]), then encode every
    * vector's residual map-side through the codegen'd encoder.
    */
  def build(embs: DataFrame, kCells: Int, m: Int = 4, k: Int = 32,
      seed: Long = 42L, sampleFraction: Double = 0.25, maxIter: Int = 10,
      maxSample: Int = 100000): Model = {
    val spark = embs.sparkSession
    val prepared = EmbeddingSearch.prepared(embs)
      .withColumn("vn", unit(col("v"), col("nrm")))
    val withFeatures = prepared.withColumn("features", array_to_vector(col("vn")))
    val trainSet =
      if (sampleFraction < 1.0) withFeatures.sample(sampleFraction, seed)
      else withFeatures
    val kmeans = new KMeans().setK(kCells).setSeed(seed).setMaxIter(maxIter)
      .setFeaturesCol("features").setPredictionCol("cell")
    val kmModel = kmeans.fit(trainSet)
    val centroids = spark.createDataFrame(
      kmModel.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray) })
      .toDF("cell", "cv")
    val assigned = kmModel.transform(withFeatures).drop("features")
      .join(broadcast(centroids), "cell")
      .withColumn("res", residual(col("vn"), col("cv")))
    // bounded residual sample for the codebooks — one small collect
    val sample = assigned.sample(math.min(1.0, sampleFraction * 2), seed)
      .select(col("res")).limit(maxSample)
      .collect().map(_.getSeq[Double](0).toArray)
    require(sample.nonEmpty, "empty residual training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val codebooks = (0 until m).map { j =>
      val sub = sample.map(v => java.util.Arrays.copyOfRange(v, j * dsub,
        (j + 1) * dsub))
      PqIndex.lloyd(sub, k, maxIter, seed + j).map(_.toSeq).toSeq
    }
    val encoded = assigned
      .withColumn("code", codeColumn(col("res"), m, dsub, codebooks))
      .select("vec_id", "v", "nrm", "cell", "code")
    Model(centroids, m, dsub, codebooks, encoded)
  }

  /** Assign + residual-encode new vectors under the FROZEN quantizers —
    * the incremental path for corpus appends: only the delta is
    * scanned, nothing retrains. Output rows have `encoded`'s shape.
    */
  def encode(model: Model, embs: DataFrame): DataFrame = {
    val cents: Seq[Seq[Double]] = model.centroids.orderBy("cell").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("cv")).toSeq).toSeq
    val vn = unit(col("v"), col("nrm"))
    val dists = transform(typedLit(cents), c => EmbeddingSearch.l2sq(c, vn))
    EmbeddingSearch.prepared(embs)
      .withColumn("cell",
        (array_position(dists, array_min(dists)) - 1).cast("int"))
      .withColumn("res",
        residual(vn, element_at(typedLit(cents), col("cell") + 1)))
      .withColumn("code",
        codeColumn(col("res"), model.m, model.dsub, model.codebooks))
      .select("vec_id", "v", "nrm", "cell", "code")
  }

  /** In-memory append (quantizers unchanged). */
  def append(model: Model, newEmbs: DataFrame): Model =
    model.copy(encoded = model.encoded.unionByName(encode(model, newEmbs)))

  /** Persist: centroids + codebooks (tiny) and the corpus-sized
    * (vec_id, cell, code) rows PARTITIONED BY cell — a probe of nProbe
    * cells is nProbe pruned partition reads of a few bytes per row.
    * Vectors are NOT duplicated (corpus parquet stays the source of
    * truth; [[load]] re-attaches them for the re-rank) — same
    * build-once/reuse design as [[IvfIndex.save]] and [[PqIndex.save]].
    */
  def save(model: Model, path: String, retainVersions: Int = 2): Unit = {
    val spark = model.encoded.sparkSession
    // tagged "train": freshly-trained quantizers — what [[stats]]'s
    // codebook_age counts from (the [[PqIndex.save]] discipline)
    commitReplace(spark, path, model.encoded, Seq(model.centroids,
      PqIndex.codebookRows(spark, model.codebooks)), retainVersions, "train")
  }

  /** The (vec_id, cell, code) rows, PARTITIONED BY cell. */
  override protected def writeLive(encoded: DataFrame, dir: String): Unit =
    encoded.select("vec_id", "cell", "code")
      .repartition(col("cell"))
      .write.partitionBy("cell").parquet(dir)

  def saveAppend(model: Model, newEmbs: DataFrame, path: String): Unit =
    appendLive(model.encoded.sparkSession, path, encode(model, newEmbs))

  /** QUANTIZER REFRESH for the composite index ([[PqIndex.retrain]]'s
    * contract): BOTH quantizers — the coarse cells and the residual
    * codebooks — retrain over the LIVE corpus and every live row
    * re-encodes into a fresh "train"-tagged manifest swap, previous
    * version retained (`loadAt` = rollback). The composite retrains as
    * a UNIT by design: residual codes are coupled to their cell's
    * centroid, so any incremental cell split would re-encode the moved
    * members anyway — the skew/drift answer for ivfpq is this refresh,
    * not [[IvfIndex.rebalance]]'s split (and [[Takedown.maintain]]
    * fires it off the same cell-occupancy gauge). Post-retrain,
    * exhaustive-probe/corpus-wide-shortlist search ≡ brute force over
    * the live corpus (quantizer-independent — the value check);
    * byte-equality with a from-scratch build is NOT promised: the
    * distributed KMeans fit and residual sample are seeded but not
    * row-order-canonicalized (unlike [[PqIndex.build]]'s driver-local
    * sample).
    */
  def retrain(spark: SparkSession, path: String, embs: DataFrame,
      kCells: Int, m: Int = 4, k: Int = 32, seed: Long = 42L,
      sampleFraction: Double = 0.25, maxIter: Int = 10,
      maxSample: Int = 100000, retainVersions: Int = 2): Unit =
    IndexStore.withLock(spark, path) {
      save(build(liveEmbeddings(spark, path, embs), kCells, m, k, seed,
        sampleFraction, maxIter, maxSample), path, retainVersions)
    }

  /** The biggest LIVE cell ([[IvfIndex.maxLiveCell]]'s gauge for the
    * composite layout — what decides when [[retrain]] is due on a
    * skewing corpus).
    */
  def maxLiveCell(spark: SparkSession, path: String): Long =
    IvfIndex.biggestCell(IndexStore.snapshot(spark, path), "codes")

  /** Fire [[retrain]] once the biggest live cell crosses
    * `maxCellSize` — the trained-family debt policy for the composite
    * index: where plain IVF can split cells in place
    * ([[IvfIndex.maybeRebalance]]), ivfpq's residual coupling makes
    * the full refresh THE rebalance. The quantizer GEOMETRY (kCells,
    * m, k) re-derives from the saved quantizers themselves, so a
    * registry sweep needs no per-index configuration. Gauge and fire
    * share one writer-lock scope. Returns whether a retrain ran.
    */
  def maybeRetrain(spark: SparkSession, path: String, embs: DataFrame,
      maxCellSize: Long): Boolean =
    IndexStore.withLock(spark, path) {
      val due = maxLiveCell(spark, path) > maxCellSize
      if (due) {
        val snap = IndexStore.snapshot(spark, path)
        val kCells = snap.read("centroids").get.count().toInt
        val geo = snap.read("codebooks").get
          .agg(countDistinct("subspace"), countDistinct("code_id"))
          .head()
        retrain(spark, path, embs, kCells,
          m = geo.getLong(0).toInt, k = geo.getLong(1).toInt)
      }
      due
    }

  /** [[stats]] gauges — [[IvfIndex]]'s cell-occupancy envelope PLUS
    * [[PqIndex]]'s codebook age, the two gauges the composite index
    * drifts on: `cell_max` decides [[maybeRetrain]], `codebook_age` is
    * the [[trainAge]]; `live_codes`, `subspaces`. Code-relation-bounded
    * — never a corpus read.
    */
  protected def gauges(snap: IndexStore.Snapshot): Seq[(String, Long)] =
    IvfIndex.occupancy(snap, "codes", "live_codes") ++ Seq(
      "codebook_age" -> trainAge(snap),
      "subspaces" -> snap.read("codebooks").get
        .agg(countDistinct("subspace")).head().getLong(0))

  /** ivfpq's residual coupling makes the full quantizer refresh its
    * rebalance.
    */
  override private[ext] def maintainQuality(spark: SparkSession,
      path: String, maxGraphDebt: Int, maxCell: Long,
      embs: => Option[DataFrame]): Boolean =
    maxCell > 0L && embs.exists(maybeRetrain(spark, path, _, maxCell))

  protected def loadSnapshot(snap: IndexStore.Snapshot,
      embs: DataFrame): Model = {
    val codebooks = PqIndex.readCodebooks(snap)
    Model(snap.read("centroids").get, codebooks.length,
      codebooks.head.head.length, codebooks, liveCorpus(snap, embs))
  }

  /** Top-k per query (queries ⊂ corpus, self excluded). */
  def search(model: Model, queryPred: Column, k: Int, nProbe: Int,
      shortlist: Int = 8): DataFrame =
    searchImpl(model, model.encoded.filter(queryPred),
      k, nProbe, shortlist, excludeSelf = true)

  /** Top-k for EXTERNAL query vectors (lookup semantics — a query
    * identical to a corpus row ranks it first).
    */
  def searchVectors(model: Model, queries: DataFrame, k: Int, nProbe: Int,
      shortlist: Int = 8): DataFrame =
    searchImpl(model, EmbeddingSearch.prepared(queries),
      k, nProbe, shortlist, excludeSelf = false)

  /** Per-(query, probed-cell) residual distance tables: the query's own
    * residual against that cell (`q̂ − cv`) meets the shared residual
    * codebooks — IVFADC's asymmetric distance. Computed on the
    * queries × nProbe frame (tiny, broadcast), never per corpus row.
    */
  private def distTables(qres: Column, codebooks: Seq[Seq[Seq[Double]]],
      dsub: Int): Column =
    array(codebooks.zipWithIndex.map { case (cb, j) =>
      transform(typedLit(cb),
        c => EmbeddingSearch.l2sq(c, slice(qres, j * dsub + 1, dsub)))
    }: _*)

  private def searchImpl(model: Model, rows: DataFrame, k: Int, nProbe: Int,
      shortlist: Int, excludeSelf: Boolean): DataFrame = {
    val q = EmbeddingSearch.asQueries(rows)
    val qn = unit(col("qv"), col("qnrm"))
    // rank the broadcast centroid list per query, keep nProbe cells,
    // and build that (query, cell) pair's distance tables right here —
    // the expensive per-pair table work happens on queries × nProbe
    // rows only
    val cellRank = Window.partitionBy("query_id").orderBy(col("d2").asc)
    val probes = q.crossJoin(broadcast(model.centroids))
      .withColumn("d2", EmbeddingSearch.l2sq(qn, col("cv")))
      .withColumn("cell_rank", row_number().over(cellRank))
      .filter(col("cell_rank") <= nProbe)
      .withColumn("qdt",
        distTables(residual(qn, col("cv")), model.codebooks, model.dsub))
      .select("query_id", "qv", "qnrm", "cell", "qdt")
    val adc = {
      import org.apache.spark.sql.graftbridge.Bridge
      Bridge.toColumn(graft.functions.PqAdc(
        Bridge.toExpr(col("code")), Bridge.toExpr(col("qdt"))))
    }
    // probed cells stream past the broadcast (query, cell, tables)
    // rows; the ADC lookup is the only per-row work in the hot join
    val scored = model.encoded.join(broadcast(probes), Seq("cell"))
      .filter(if (excludeSelf) col("vec_id") =!= col("query_id")
        else lit(true))
      .withColumn("adc", adc)
    val wAdc = Window.partitionBy("query_id")
      .orderBy(col("adc").asc, col("vec_id").asc)
    val cand = scored.withColumn("adc_rank", row_number().over(wAdc))
      .filter(col("adc_rank") <= k.toLong * shortlist)
    EmbeddingSearch.rerankTopK(cand, k)
  }
}

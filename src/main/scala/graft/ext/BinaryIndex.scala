package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** PERSISTED binary (sign-bit) quantization index — the 1-bit-per-dim
  * first stage ([[EmbeddingSearch.binaryCode]]) promoted from an
  * in-plan expression to a full index family on the shared
  * [[IndexStore]] lifecycle: codes are computed ONCE at build/append
  * time and stored as a (vec_id, code) relation — 16 bytes a row at
  * dim 64, 32× smaller than the float vectors — instead of being
  * recomputed from the floats on every query (what
  * [[EmbeddingSearch.binaryTopK]] does, which at 100 TB re-reads the
  * very relation the codec exists to avoid). Search stage 1 scans only
  * the persisted codes (codegen'd XOR+popcount Hamming); stage 2
  * re-reads just the surviving candidates' float vectors by id
  * equi-join and re-ranks exactly.
  *
  * The family contract everyone else has: `save`/`saveAppend` with
  * FROZEN geometry (the stored `dim` — deliveries are width-asserted
  * against it, [[EmbeddingSearch.checkedDim]]), `delete` as scoped
  * tombstones, `compact` as the physical apply, `loadAt` time travel,
  * and registration as a [[Takedown]]/[[Ingest]] surface (kind
  * `binary`). Training-free: the "model" is one integer, so unlike
  * IVF/PQ/SQ there is no drift and append never degrades — the
  * cheapest persisted ANN family to operate.
  *
  * Everything is closed-form deterministic integer/double arithmetic
  * (sign tests, popcounts, sequential-fold dots), so the q_binary_persist
  * gate hash-checks the ENTIRE lifecycle against a DuckDB oracle that
  * replays codes, Hamming candidates, and the exact re-rank as values —
  * the q_sq_persist posture, not a recall floor.
  */
object BinaryIndex extends VectorFamily {

  val kind = "binary"
  val live = ("codes", "vec_id")
  protected val sidecars = Seq("meta")

  /** `dim`: the frozen embedding width. `codes`: (vec_id, code:
    * array<long>). `vecs`: the prepared corpus (vec_id, v, nrm) the
    * exact re-rank reads — not duplicated into the index, the corpus
    * parquet stays the source of truth ([[SqIndex]]'s split).
    */
  final case class Model(dim: Int, codes: DataFrame, vecs: DataFrame)

  /** Map-side sign-bit encode against the frozen width; the delivery's
    * width is asserted (a silently-truncating mismatch would fold
    * out-of-range dims to 0 bits and quietly lose stage-1 recall).
    */
  def encode(dim: Int, embs: DataFrame): DataFrame = {
    require(dim > 0, s"encode needs the frozen width, got dim=$dim")
    // width enforcement rides the encode projection itself
    // (EmbeddingSearch.widthGuard) — loud at execution on the first
    // mismatched row, no up-front corpus aggregate per delivery
    EmbeddingSearch.prepared(embs)
      .select(col("vec_id"),
        EmbeddingSearch.binaryCode(
          EmbeddingSearch.widthGuard(col("v"), dim), dim).as("code"))
  }

  def build(embs: DataFrame): Model = {
    // one uniform-width aggregate at BUILD time freezes the geometry
    // (and rejects an empty corpus — a silently-frozen dim=0 could
    // never assert anything again); deliveries thereafter pay only the
    // in-plan guard
    val dim = EmbeddingSearch.checkedDim(embs, 0)
    Model(dim, encode(dim, embs), EmbeddingSearch.prepared(embs))
  }

  /** Already-coded ids drop out of the delivery (live-presence
    * idempotent, the [[KnnGraphIndex.insert]] discipline): a retried
    * or overlapping delivery must not land an id's code twice — stage
    * 1 would rank the duplicate at two candidate slots and silently
    * crowd a true neighbor out of the top-k. dedupDelivery guards the
    * WITHIN-delivery variant of the same hazard (two rows sharing a
    * vec_id inside one delivery both survive the anti-join) and fails
    * loudly when the duplicates CONFLICT — which makes this otherwise
    * lazy in-memory append EAGER: the conflict check runs a Spark job
    * at call time (the documented dedupDelivery trade).
    */
  def append(model: Model, newEmbs: DataFrame): Model = {
    val fresh = EmbeddingSearch.dedupDelivery(newEmbs)
      .join(model.codes.select("vec_id"), Seq("vec_id"), "left_anti")
    model.copy(
      codes = model.codes.unionByName(encode(model.dim, fresh)),
      vecs = model.vecs.unionByName(EmbeddingSearch.prepared(fresh)))
  }

  /** Persist: one-row meta (dim) plus the code relation. */
  def save(model: Model, path: String, retainVersions: Int = 2): Unit = {
    val spark = model.codes.sparkSession
    import spark.implicits._
    commitReplace(spark, path, model.codes, Seq(Seq(model.dim).toDF("dim")),
      retainVersions, "build")
  }

  def buildAndSave(embs: DataFrame, path: String): Model = {
    val m = build(embs)
    save(m, path)
    m
  }

  /** Incremental encode of new vectors into a saved index — one
    * appended segment of delta codes under the frozen dim. Ids with a
    * LIVE persisted code drop out first (a retried delivery whose
    * publish actually committed must not duplicate codes — see
    * [[append]]), so an empty or fully-duplicate delivery publishes
    * nothing; the liveness read happens under the writer lock.
    */
  def saveAppend(model: Model, newEmbs: DataFrame, path: String): Unit = {
    val spark = model.codes.sparkSession
    if (!newEmbs.isEmpty) IndexStore.withLock(spark, path) {
      val snap = IndexStore.snapshot(spark, path)
      val fresh = EmbeddingSearch.dedupDelivery(newEmbs).join(
        IndexStore.liveRows(snap, "codes").select("vec_id"),
        Seq("vec_id"), "left_anti")
      if (!fresh.isEmpty)
        IndexStore.commit(spark, path, "append", IndexStore.Append)(
          IndexStore.Rel("codes")(encode(model.dim, fresh).write.parquet(_)))
      ()
    }
  }

  private def dimOf(snap: IndexStore.Snapshot): Int =
    IndexStore.cachedMeta(snap) {
      snap.read("meta").getOrElse(
        sys.error(s"no meta relation under ${snap.root}"))
        .head().getAs[Int]("dim")
    }

  /** [[stats]] gauges. The sign-bit codec is training-free, so there is
    * no age gauge — layout debt and live coverage are the whole story:
    * `live_codes` (corpus coverage), `dim` (frozen geometry).
    * Code-relation- and metadata-bounded.
    */
  protected def gauges(snap: IndexStore.Snapshot): Seq[(String, Long)] =
    Seq(
      "dim" -> dimOf(snap).toLong,
      "live_codes" -> IndexStore.liveRows(snap, "codes").count())

  protected def loadSnapshot(snap: IndexStore.Snapshot,
      embs: DataFrame): Model =
    Model(dimOf(snap), IndexStore.liveRows(snap, "codes"),
      EmbeddingSearch.prepared(embs))

  /** Top-k per query over queries drawn from the corpus (self
    * excluded — [[EmbeddingSearch.binaryTopK]]'s semantics): stage 1
    * keeps each query's `candidates` nearest PERSISTED codes by
    * Hamming (ties → smaller id), stage 2 re-ranks exactly. Live codes
    * define membership: a tombstoned id neither answers nor queries.
    */
  def search(model: Model, queryPred: Column, k: Int,
      candidates: Int = 200): DataFrame = {
    val live = model.vecs.join(model.codes.select("vec_id"), "vec_id")
    searchImpl(model, live.filter(queryPred),
      k, candidates, excludeSelf = true)
  }

  /** Top-k for EXTERNAL query vectors (lookup semantics, nothing
    * self-excluded; queries encode map-side against the frozen dim).
    */
  def searchVectors(model: Model, queries: DataFrame, k: Int,
      candidates: Int = 200): DataFrame =
    searchImpl(model, EmbeddingSearch.prepared(queries),
      k, candidates, excludeSelf = false)

  /** PRECEDENCE-AWARE FEDERATED ANN across saved binary indexes
    * ([[IndexFamily.federate]]'s semantics — the vector twin of
    * [[TextSearch.searchFederated]]): `roots` ordered highest-precedence
    * first, each paired with the corpus frame its exact re-rank reads,
    * each over-fetching k×overFetch from its OWN codes. Unlike BM25
    * federation the final fuse is CALIBRATED: stage 2 re-ranked every
    * candidate by exact cosine.
    */
  def searchFederatedVectors(spark: SparkSession,
      roots: Seq[(String, DataFrame)], queries: DataFrame, k: Int,
      candidates: Int = 200, overFetch: Int = 4): DataFrame =
    federateVectors(spark, roots.map(_._1), k) { i =>
      searchVectors(load(spark, roots(i)._1, roots(i)._2), queries,
        k * overFetch, candidates)
    }

  private def searchImpl(model: Model, rows: DataFrame, k: Int,
      candidates: Int, excludeSelf: Boolean): DataFrame = {
    // width enforcement rides the qcode projection (the same loud
    // check the encode path has — a narrow query would otherwise fold
    // its missing dims to 0 bits and silently lose recall); in-plan,
    // so search() never pays an eager job just to validate (the
    // corpus-drawn query side of search() would otherwise execute the
    // vecs⋈codes join once for the check and again for the search)
    val q = EmbeddingSearch.asQueries(rows).withColumn("qcode",
      EmbeddingSearch.binaryCode(
        EmbeddingSearch.widthGuard(col("qv"), model.dim), model.dim))
    val joinCond =
      if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true)
    // stage 1: Hamming over the persisted 16-byte code relation ONLY —
    // the float vectors are untouched until the re-rank
    val wHam = Window.partitionBy("query_id")
      .orderBy(col("ham").asc, col("vec_id").asc)
    val cand = model.codes
      .join(broadcast(q.select("query_id", "qcode")), joinCond)
      .withColumn("ham",
        EmbeddingSearch.hamming(col("qcode"), col("code")))
      .withColumn("crank", row_number().over(wHam))
      .filter(col("crank") <= candidates)
      .select("query_id", "vec_id")
    // stage 2: exact re-rank of the survivors (vectors by id equi-join)
    EmbeddingSearch.rerankTopK(
      cand.join(model.vecs.select(col("vec_id"), col("v"), col("nrm")),
          "vec_id")
        .join(broadcast(q.select("query_id", "qv", "qnrm")), "query_id"),
      k)
  }
}

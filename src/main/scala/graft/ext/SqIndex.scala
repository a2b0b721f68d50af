package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scalar quantization (SQ8) for approximate nearest neighbor — the
  * per-dimension affine codec used as the standard compression baseline in
  * billion-scale ANN systems (Johnson, Douze, Jégou, "Billion-scale
  * similarity search with GPUs", 2017 — Faiss's `SQ8` index family):
  * each dimension of the unit-normalized vector is mapped to an 8-bit
  * level between the corpus-wide per-dimension min and max,
  * `code_i = floor(255·(x_i − lo_i)/(hi_i − lo_i) + 0.5)`, shrinking a
  * 64-dim float64 vector from 512 B to 64 B with no codebook training at
  * all — the "model" is just 2·d doubles.
  *
  * A query scores the corpus in the compressed domain asymmetrically
  * (exact query against dequantized corpus, the ADC idea of Jégou et al.
  * 2011), shortlists, then re-ranks the shortlist with exact cosine.
  *
  * Scale shape: `train` is ONE distributed aggregate (a d-dim min/max
  * buffer per partition, associative merge — same plan as any partial
  * aggregate); `encode` is a map-side expression against the broadcast
  * 2·d-double range literals; `search` streams the codes once per query
  * batch with the (tiny) query side broadcast, and the exact re-rank
  * touches only the per-query shortlist. Complements [[IvfIndex]] (prunes
  * WHICH rows are scored) and [[PqIndex]] (trained subspace codes,
  * higher ratio): SQ8 is the no-training member of the family — rebuild
  * after drift is a single pass, and at 100 TB the codes table is ~1/8 of
  * the raw corpus, streamed instead of it.
  *
  * Everything here is deterministic double arithmetic in a fixed fold
  * order (`floor(x+0.5)` rather than `round`, sequential-fold dot
  * products), which is what lets the q_sq_topk gate hash-match a DuckDB
  * oracle that mirrors the whole codec end to end — quantization error
  * included — rather than settling for a recall-only check.
  */
object SqIndex extends VectorFamily {

  val kind = "sq"
  val live = ("codes", "vec_id")
  protected val sidecars = Seq("ranges")
  override protected def trained = true

  /** `lo`/`hi`: per-dimension corpus min/max in the unit-normalized
    * space. `encoded`: (vec_id, v, nrm, code: array<int> of 0..255).
    */
  final case class Model(lo: Seq[Double], hi: Seq[Double], encoded: DataFrame)

  /** Unit-normalized copy of `v` (the codec lives in the normalized
    * space: squared-L2 / inner-product ranking of unit vectors is cosine
    * ranking, so quantization error never competes with magnitude).
    */
  private def unit(v: Column, nrm: Column): Column =
    transform(v, x => x / sqrt(nrm))

  /** Per-dimension (min, max) over the unit-normalized corpus — one
    * associative vector aggregate via `Summarizer`, no explode.
    */
  def train(embs: DataFrame): (Seq[Double], Seq[Double]) = {
    import org.apache.spark.ml.functions.array_to_vector
    import org.apache.spark.ml.stat.Summarizer
    val p = EmbeddingSearch.prepared(embs)
    require(!p.isEmpty, "cannot train SQ ranges on an empty corpus")
    val row = p
      .select(array_to_vector(unit(col("v"), col("nrm"))).as("u"))
      .select(Summarizer.min(col("u")).as("lo"),
        Summarizer.max(col("u")).as("hi"))
      .head()
    (row.getAs[org.apache.spark.ml.linalg.Vector]("lo").toArray.toSeq,
      row.getAs[org.apache.spark.ml.linalg.Vector]("hi").toArray.toSeq)
  }

  def build(embs: DataFrame): Model = {
    val (lo, hi) = train(embs)
    Model(lo, hi, encode(lo, hi, embs))
  }

  /** Map-side encode against the broadcast ranges (the delta path for
    * appends — no retraining; a constant dimension, hi = lo, encodes to
    * 0 and decodes back to exactly `lo`). The corpus-sized arithmetic is
    * the codegen'd [[graft.functions.SqEncode]] expression; the HOF
    * spelling lives in [[hofCode]] as the equivalence-test reference
    * (interpreted lambdas have no place on a once-per-corpus-row path).
    */
  def encode(lo: Seq[Double], hi: Seq[Double], embs: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftbridge.Bridge
    EmbeddingSearch.prepared(embs).withColumn("code",
      Bridge.toColumn(graft.functions.SqEncode(
        Bridge.toExpr(col("v")), lo.toArray, hi.toArray)))
  }

  /** Interpreted HOF spelling of the encoder — kept as the reference
    * implementation for SqIndexSpec's codegen-equivalence test.
    */
  private[graft] def hofCode(lo: Seq[Double], hi: Seq[Double]): Column = {
    val (loL, hiL) = (typedLit(lo), typedLit(hi))
    transform(unit(col("v"), col("nrm")), (x, i) => {
      val l = element_at(loL, i + 1)
      val h = element_at(hiL, i + 1)
      floor(lit(255.0) * (x - l) / greatest(h - l, lit(1e-12)) + lit(0.5))
        .cast("int")
    })
  }

  def append(model: Model, newEmbs: DataFrame): Model =
    model.copy(encoded =
      model.encoded.unionByName(encode(model.lo, model.hi, newEmbs)))

  /** Persist: the 2·d range doubles as one tiny parquet, the codes as a
    * (vec_id, code) table. As with [[PqIndex.save]], vectors are not
    * duplicated into the index — the corpus parquet stays the source of
    * truth and [[load]] re-attaches it for the exact re-rank.
    */
  def save(model: Model, path: String, retainVersions: Int = 2): Unit = {
    val spark = model.encoded.sparkSession
    import spark.implicits._
    val ranges = model.lo.zip(model.hi).zipWithIndex
      .map { case ((l, h), i) => (i, l, h) }.toDF("dim", "lo", "hi")
    // tagged "train": this commit carries freshly-fit ranges — what
    // [[stats]]'s codec_age counts from ([[PqIndex.save]]'s contract)
    commitReplace(spark, path, model.encoded.select("vec_id", "code"),
      Seq(ranges), retainVersions, "train")
  }

  /** Append-only incremental encode of new vectors into a saved index
    * (one appended segment; an empty delivery publishes nothing).
    */
  def saveAppend(model: Model, newEmbs: DataFrame, path: String): Unit =
    appendLive(model.encoded.sparkSession, path,
      encode(model.lo, model.hi, newEmbs).select("vec_id", "code"))

  /** CODEC REFRESH ([[PqIndex.retrain]]'s contract for the affine
    * codec): re-fit the per-dimension ranges over the LIVE corpus,
    * re-encode the live rows into a fresh segment, publish as an
    * atomic swap tagged "train" with the previous version retained
    * ([[loadAt]] = rollback). Frozen ranges clip drifting data —
    * a dimension that moved outside [lo, hi] saturates at 0/255 and
    * its quantization error stops being bounded by (hi−lo)/255; the
    * refresh restores the trained-on-what-arrives posture at the cost
    * of one aggregate + one distributed encode. Post-retrain answers
    * ≡ a from-scratch [[build]] over the live corpus.
    */
  def retrain(spark: SparkSession, path: String, embs: DataFrame,
      retainVersions: Int = 2): Unit =
    IndexStore.withLock(spark, path) {
      save(build(liveEmbeddings(spark, path, embs)), path, retainVersions)
    }

  /** [[stats]] gauges ([[PqIndex]]'s mold): `codec_age` ([[trainAge]]
    * since [[save]]/[[retrain]] — the when-is-a-refresh-due gauge);
    * `live_codes`. Metadata- and code-relation-bounded.
    */
  protected def gauges(snap: IndexStore.Snapshot): Seq[(String, Long)] =
    Seq(
      "codec_age" -> trainAge(snap),
      "live_codes" -> IndexStore.liveRows(snap, "codes").count())

  protected def loadSnapshot(snap: IndexStore.Snapshot,
      embs: DataFrame): Model = {
    val rows = snap.read("ranges").get.orderBy("dim").collect()
    require(rows.nonEmpty, s"no ranges at ${snap.root}")
    val lo = rows.map(_.getAs[Double]("lo")).toSeq
    val hi = rows.map(_.getAs[Double]("hi")).toSeq
    Model(lo, hi, liveCorpus(snap, embs))
  }

  /** Interpreted HOF spelling of the dequantize-and-dot scan — kept as
    * the reference implementation for SqIndexSpec's codegen-equivalence
    * test. `lo_i + code_i·(hi_i − lo_i)/255`, then [[EmbeddingSearch.dot]].
    */
  private[graft] def hofAdc(model: Model, code: Column, qu: Column): Column = {
    val (loL, hiL) = (typedLit(model.lo), typedLit(model.hi))
    EmbeddingSearch.dot(qu, transform(code, (c, i) => {
      val l = element_at(loL, i + 1)
      val h = element_at(hiL, i + 1)
      l + c.cast("double") * (h - l) / lit(255.0)
    }))
  }

  /** Top-k per query over queries drawn from the corpus (self excluded):
    * compressed-domain scan → shortlist of `shortlist × k` → exact
    * cosine re-rank.
    */
  def search(model: Model, queryPred: Column, k: Int,
      shortlist: Int = 4): DataFrame =
    searchImpl(model, model.encoded.filter(queryPred),
      k, shortlist, excludeSelf = true)

  /** Top-k for EXTERNAL query vectors (lookup semantics, nothing
    * self-excluded; queries need no codes — the scan is asymmetric).
    */
  def searchVectors(model: Model, queries: DataFrame, k: Int,
      shortlist: Int = 4): DataFrame =
    searchImpl(model, EmbeddingSearch.prepared(queries),
      k, shortlist, excludeSelf = false)

  private def searchImpl(model: Model, rows: DataFrame, k: Int,
      shortlist: Int, excludeSelf: Boolean): DataFrame = {
    val q = EmbeddingSearch.asQueries(rows)
      .withColumn("qu", unit(col("qv"), col("qnrm")))
    val joinCond =
      if (excludeSelf) col("vec_id") =!= col("query_id") else lit(true)
    // codegen'd dequantize-and-dot (SqAdc) — the (corpus × queries)
    // inner loop must not run as interpreted HOF lambdas; hofAdc is the
    // equivalence-test reference
    val adc = {
      import org.apache.spark.sql.graftbridge.Bridge
      Bridge.toColumn(graft.functions.SqAdc(
        Bridge.toExpr(col("code")), Bridge.toExpr(col("qu")),
        model.lo.toArray, model.hi.toArray))
    }
    val scored = model.encoded.join(broadcast(q), joinCond)
      .withColumn("score", adc)
    val wScore = Window.partitionBy("query_id")
      .orderBy(col("score").desc, col("vec_id").asc)
    val cand = scored.withColumn("score_rank", row_number().over(wScore))
      .filter(col("score_rank") <= k * shortlist)
    EmbeddingSearch.rerankTopK(cand, k)
  }
}

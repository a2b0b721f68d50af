package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class BinaryIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic mixed-sign 8-dim vectors — every sign pattern
    * differs, so Hamming actually separates candidates.
    */
  private def corpus = (0 until 24).map { i =>
    (i.toLong, Array.tabulate(8)(j =>
      math.sin(i * 2.1 + j * 0.7).toFloat))
  }.toDF("vec_id", "embedding")

  private def dir() = graft.Gate.tmpDir("spec_binidx_")

  private def hits(df: org.apache.spark.sql.DataFrame) =
    df.select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet

  test("loaded index answers row-identical to the in-memory model " +
      "(save + frozen-dim saveAppend)") {
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val delta = corpus.filter(col("vec_id") % 5 === 0)
    val path = dir()
    val m = BinaryIndex.build(base)
    assert(m.dim === 8)
    BinaryIndex.save(m, path)
    BinaryIndex.saveAppend(m, delta, path)
    val mem = BinaryIndex.append(m, delta)
    val queries = corpus.filter(col("vec_id") < 3)
    val loaded = BinaryIndex.load(spark, path, corpus)
    assert(hits(BinaryIndex.searchVectors(loaded, queries, k = 4,
        candidates = 8)) ===
      hits(BinaryIndex.searchVectors(mem, queries, k = 4,
        candidates = 8)))
  }

  test("delete masks, delete is idempotent, readd revives, compact " +
      "preserves answers") {
    val path = dir()
    BinaryIndex.buildAndSave(corpus, path)
    BinaryIndex.delete(spark, path, Seq(5L).toDF("vec_id"),
      col("vec_id"))
    val probe = corpus.filter(col("vec_id") === 5L)
    def served() = hits(BinaryIndex.searchVectors(
      BinaryIndex.load(spark, path, corpus), probe, k = 3,
      candidates = 24)).map(_._3)
    assert(!served().contains(5L))
    // idempotent: a second delete publishes nothing
    val v = IndexStore.snapshot(spark, path).version
    BinaryIndex.delete(spark, path, Seq(5L).toDF("vec_id"),
      col("vec_id"))
    assert(IndexStore.snapshot(spark, path).version === v)
    // readd: the scoped tombstone does not mask the new segment
    val m = BinaryIndex.load(spark, path, corpus)
    BinaryIndex.saveAppend(m, probe, path)
    assert(served().contains(5L)) // ranks itself first again
    val before = served()
    BinaryIndex.compact(spark, path)
    assert(served() === before)
    // compaction applied the tombstone physically and kept the readd
    val live = IndexStore.liveRows(IndexStore.snapshot(spark, path),
      "codes")
    assert(live.filter(col("vec_id") === 5L).count() === 1L)
  }

  test("federated search: a live overlay version is authoritative, a " +
      "retracted one cedes back to production") {
    val amended = corpus.filter(col("vec_id") === 1L)
      .withColumn("embedding", transform(col("embedding"), x => -x))
    val pa = dir()
    val pb = dir()
    BinaryIndex.buildAndSave(amended, pa)
    BinaryIndex.buildAndSave(corpus, pb)
    val q = corpus.filter(col("vec_id") === 1L) // the RAW vector
    def fed(k: Int) = BinaryIndex.searchFederatedVectors(spark,
      Seq(pa -> amended, pb -> corpus), q, k = k, candidates = 24)
    // id 1's only servable version is the NEGATED overlay one (cos −1
    // to the raw query): it must not rank first, and the production
    // (cos 1) version must not serve at any rank
    assert(fed(1).select("neighbor_id").as[Long].head() !== 1L)
    val id1 = fed(24).filter(col("neighbor_id") === 1L)
      .select("cos").as[Double].collect()
    assert(id1.nonEmpty && id1.forall(_ < 0))
    // retraction cedes: production's raw id 1 ranks itself first again
    BinaryIndex.delete(spark, pa, Seq(1L).toDF("vec_id"),
      col("vec_id"))
    assert(fed(1).select("neighbor_id").as[Long].head() === 1L)
  }

  test("width mismatches fail loudly instead of truncating codes") {
    val path = dir()
    val m = BinaryIndex.buildAndSave(corpus, path)
    val narrow = Seq((100L, Array(1f, -1f, 1f, -1f)))
      .toDF("vec_id", "embedding")
    // append/search guards ride the encode projection (in-plan
    // raise_error — no extra corpus pass), so they surface as Spark
    // runtime failures at execution, not plan-time requires
    intercept[RuntimeException] {
      BinaryIndex.saveAppend(m, narrow, path)
    }
    intercept[Exception] {
      BinaryIndex.searchVectors(m, narrow, k = 3).count()
    }
    // and a mixed-width corpus refuses to build at all (the one
    // remaining up-front aggregate — build freezes the geometry)
    intercept[IllegalArgumentException] {
      BinaryIndex.build(corpus.unionByName(narrow))
    }
  }

  test("empty and duplicate deliveries are no-ops, never duplicate codes") {
    val path = dir()
    val m = BinaryIndex.buildAndSave(corpus, path)
    val v0 = graft.ext.IndexStore.snapshot(spark, path).version
    // empty delta: publishes nothing, no width error
    val empty = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    BinaryIndex.saveAppend(m, empty, path)
    assert(graft.ext.IndexStore.snapshot(spark, path).version == v0)
    // re-delivered live ids: drop out, both persisted and in-memory
    BinaryIndex.saveAppend(m, corpus.limit(2), path)
    assert(graft.ext.IndexStore.snapshot(spark, path).version == v0)
    val m2 = BinaryIndex.append(m, corpus.limit(2))
    assert(m2.codes.count() == m.codes.count())
    // an empty corpus refuses to build (a frozen dim=0 could never
    // assert anything again)
    intercept[IllegalArgumentException] { BinaryIndex.build(empty) }
  }

  test("stats reports live coverage and layout debt") {
    val path = dir()
    val base = corpus.filter(col("vec_id") % 5 =!= 0)
    val m = BinaryIndex.build(base)
    BinaryIndex.save(m, path)
    BinaryIndex.saveAppend(m, corpus.filter(col("vec_id") % 5 === 0),
      path)
    BinaryIndex.delete(spark, path,
      corpus.filter(col("vec_id") % 3 === 1).select("vec_id"),
      col("vec_id"))
    val got = BinaryIndex.stats(spark, path)
      .as[(String, Long)].collect().toMap
    assert(got("dim") === 8L)
    assert(got("live_codes") ===
      corpus.filter(col("vec_id") % 3 =!= 1).count())
    assert(got("segments") === 3L)
    assert(got("tombstone_segments") === 1L)
    assert(got("version") === 3L)
  }
}

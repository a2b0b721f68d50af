package graft.ext

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class IvfPqIndexSpec extends SparkSpec {
  import spark.implicits._

  private def embs = Tables.embeddings(spark, sf0001).limit(200)

  test("exhaustive probes + corpus-wide shortlist equals brute force") {
    // with every cell probed and the shortlist covering the corpus, the
    // exact-cosine re-rank sees everything — any lost/duplicated row or
    // a residual-encode geometry bug breaks the equality
    val model = IvfPqIndex.build(embs, kCells = 4, m = 4, k = 16)
    val got = IvfPqIndex.search(model, col("vec_id") < 5, k = 3,
        nProbe = Int.MaxValue, shortlist = 1000)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val brute = EmbeddingSearch.bruteForceTopK(embs, col("vec_id") < 5, 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute)
  }

  test("bounded probes + ADC shortlist holds a recall floor") {
    val model = IvfPqIndex.build(embs, kCells = 8, m = 8, k = 32)
    val ann = IvfPqIndex.search(model, col("vec_id") < 5, k = 5,
      nProbe = 4, shortlist = 8)
    val brute = EmbeddingSearch.bruteForceTopK(embs, col("vec_id") < 5, 5)
    val hits = ann.select("query_id", "neighbor_id")
      .intersect(brute.select("query_id", "neighbor_id"))
      .groupBy("query_id").count().as[(Long, Long)].collect().toMap
    (0L until 5L).foreach { q =>
      assert(hits.getOrElse(q, 0L) >= 2,
        s"query $q recalled ${hits.getOrElse(q, 0L)}/5")
    }
  }

  test("encode under frozen quantizers matches the build's own encoding") {
    val model = IvfPqIndex.build(embs, kCells = 4, m = 4, k = 16)
    val rederived = IvfPqIndex.encode(model, embs)
      .select("vec_id", "cell", "code")
      .as[(Long, Int, Seq[Int])].collect()
      .map { case (id, c, code) => id -> ((c, code)) }.toMap
    val built = model.encoded.select("vec_id", "cell", "code")
      .as[(Long, Int, Seq[Int])].collect()
      .map { case (id, c, code) => id -> ((c, code)) }.toMap
    assert(rederived == built)
  }

  test("save/saveAppend/load answers like the in-memory index") {
    val base = embs.filter(col("vec_id") % 5 =!= 0)
    val delta = embs.filter(col("vec_id") % 5 === 0)
    val model = IvfPqIndex.build(base, kCells = 4, m = 4, k = 16)
    val dir = graft.Gate.tmpDir("ivfpq_save_")
    IvfPqIndex.save(model, dir)
    IvfPqIndex.saveAppend(model, delta, dir)
    val loaded = IvfPqIndex.load(spark, dir, embs)
    assert(loaded.encoded.count() == embs.count())
    val mem = IvfPqIndex.append(model, delta)
    val a = IvfPqIndex.search(loaded, col("vec_id") < 5, k = 3,
      nProbe = 2, shortlist = 8).orderBy("query_id", "rank")
    val b = IvfPqIndex.search(mem, col("vec_id") < 5, k = 3,
      nProbe = 2, shortlist = 8).orderBy("query_id", "rank")
    assert(rows(a) == rows(b))
  }

  test("deleteVecs masks, compact removes physically, loadAt pins") {
    val model = IvfPqIndex.build(embs, kCells = 4, m = 4, k = 16)
    val dir = graft.Gate.tmpDir("ivfpq_del_")
    IvfPqIndex.save(model, dir)
    val v0 = IndexStore.snapshot(spark, dir).version
    IvfPqIndex.delete(spark, dir,
      embs.filter(col("vec_id") % 5 === 1).select("vec_id"), col("vec_id"))
    def res(m: IvfPqIndex.Model) =
      IvfPqIndex.search(m, col("vec_id") < 5, k = 3,
          nProbe = Int.MaxValue, shortlist = 1000)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val brute = EmbeddingSearch.bruteForceTopK(
        embs.filter(col("vec_id") % 5 =!= 1), col("vec_id") < 5, 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(res(IvfPqIndex.load(spark, dir, embs)) == brute)
    IvfPqIndex.compact(spark, dir, retainVersions = 8)
    val snap = IndexStore.snapshot(spark, dir)
    assert(snap.read("tombstones").isEmpty)
    assert(snap.read("codes").get.select("vec_id").as[Long]
      .collect().forall(_ % 5 != 1))
    assert(res(IvfPqIndex.load(spark, dir, embs)) == brute)
    // pre-delete version still answers over the full corpus
    val bruteAll = EmbeddingSearch.bruteForceTopK(embs, col("vec_id") < 5, 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(res(IvfPqIndex.loadAt(spark, dir, v0, embs)) == bruteAll)
  }

  test("external query vectors rank an identical corpus row first") {
    val model = IvfPqIndex.build(embs, kCells = 4, m = 4, k = 16)
    val queries = embs.filter(col("vec_id") < 3)
    val hits = IvfPqIndex.searchVectors(model, queries, k = 1,
        nProbe = Int.MaxValue, shortlist = 1000)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toMap
    (0L until 3L).foreach(q => assert(hits(q) == q))
  }

  test("retrain refreshes both quantizers over the live corpus; " +
      "maybeRetrain fires off the cell gauge; stats tracks the age") {
    val base = embs.filter(col("vec_id") % 3 =!= 0)
    val path = graft.Gate.tmpDir("ipq_rt_")
    val model = IvfPqIndex.build(base, kCells = 2, m = 4, k = 16)
    IvfPqIndex.save(model, path)
    IvfPqIndex.saveAppend(model,
      embs.filter(col("vec_id") % 3 === 0), path)
    IvfPqIndex.delete(spark, path,
      embs.filter(col("vec_id") % 7 === 2).select("vec_id"),
      col("vec_id"))
    def stat(name: String): Long = IvfPqIndex.stats(spark, path)
      .filter(col("metric") === name).select("value").as[Long].head()
    assert(stat("codebook_age") === 2L) // train v1, append v2, delete v3
    assert(stat("tombstone_segments") === 1L)
    assert(stat("subspaces") === 4L)
    val live = embs.filter(col("vec_id") % 7 =!= 2)
    assert(stat("live_codes") === live.count())
    val preV = IndexStore.snapshot(spark, path).version
    // gauge-driven: two fat cells from the frozen coarse quantizer —
    // the registry-style fire path, geometry re-derived from the index
    val maxBefore = IvfPqIndex.maxLiveCell(spark, path)
    assert(!IvfPqIndex.maybeRetrain(spark, path, embs, maxBefore))
    assert(IvfPqIndex.maybeRetrain(spark, path, embs, maxBefore / 2))
    assert(IndexStore.snapshot(spark, path).version === preV + 1)
    assert(stat("codebook_age") === 0L) // the refresh resets the gauge
    // a retrain re-fits kCells cells — the skew splits
    assert(stat("cells") > 1L)
    // exhaustive twin: post-retrain answers ≡ brute force over the
    // live corpus (quantizer-independent)
    val got = IvfPqIndex.search(IvfPqIndex.load(spark, path, embs),
        col("vec_id") < 5, k = 3, nProbe = Int.MaxValue,
        shortlist = live.count().toInt)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val brute = EmbeddingSearch.bruteForceTopK(live, col("vec_id") < 5, 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === brute)
    // rollback: the pre-refresh version still answers
    assert(IvfPqIndex.loadAt(spark, path, preV, embs).encoded.count() > 0)
  }
}

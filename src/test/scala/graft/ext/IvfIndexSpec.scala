package graft.ext

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  test("IVF with full probing equals brute force exactly") {
    val embs = Tables.embeddings(spark, sf0001).limit(200)
    val model = IvfIndex.build(embs, k = 4)
    val ivf = IvfIndex.search(model, col("vec_id") < 5, k = 3, nProbe = 4)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val brute = EmbeddingSearch.bruteForceTopK(embs, col("vec_id") < 5, 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(ivf == brute)
  }

  test("filtered search with exhaustive probes is exact over the filter") {
    val embs = Tables.embeddings(spark, sf0001).limit(200)
    val model = IvfIndex.build(embs, k = 4)
    val got = IvfIndex.searchWhere(model, col("vec_id") < 5,
        col("vec_id") % 3 === 0, k = 3, nProbe = Int.MaxValue)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    // every neighbor satisfies the predicate...
    assert(got.forall(_._2 % 3 == 0))
    // ...and matches brute force over the filtered corpus: scoring the
    // filtered rows against the unfiltered queries, self excluded
    val e = EmbeddingSearch.prepared(embs)
    val q = e.filter(col("vec_id") < 5).select(
      col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qnrm"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("vec_id").asc)
    val want = e.filter(col("vec_id") % 3 === 0)
      .join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", EmbeddingSearch.dot(col("qv"), col("v")) /
        sqrt(col("qnrm") * col("nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select("query_id", "vec_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(got.toSet == want.toSet)
  }

  test("incremental dedup: bounded probes find a subset of exhaustive") {
    val embs = Tables.embeddings(spark, sf0001).limit(200)
    val base = embs.filter(col("vec_id") % 10 =!= 0)
    val delta = embs.filter(col("vec_id") % 10 === 0)
    val model = IvfIndex.build(base, k = 4)
    val exact = IvfIndex.dedupBatch(model, delta, threshold = 0.45,
        nProbe = Int.MaxValue)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val blocked = IvfIndex.dedupBatch(model, delta, threshold = 0.45,
        nProbe = 1)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(blocked.subsetOf(exact))
    // every exhaustive pair involves a delta vector, both orderings
    // canonicalized
    assert(exact.forall(p => p._1 % 10 == 0 || p._2 % 10 == 0))
    assert(exact.forall(p => p._1 < p._2))
  }

  test("assignNew reproduces the trained quantizer's own assignment") {
    val embs = Tables.embeddings(spark, sf0001).limit(200)
    val model = IvfIndex.build(embs, k = 4)
    val trained = model.assigned.select("vec_id", "cell")
      .as[(Long, Int)].collect().toMap
    val rederived = IvfIndex.assignNew(model, embs)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(rederived == trained)
  }

  test("save/saveAppend/load: delta-only assignment, full coverage, same search") {
    val embs = Tables.embeddings(spark, sf0001).limit(200)
    val base = embs.filter(col("vec_id") % 5 =!= 0)
    val delta = embs.filter(col("vec_id") % 5 === 0)
    val model = IvfIndex.build(base, k = 4)
    val dir = graft.Gate.tmpDir("ivf_save_")
    IvfIndex.save(model, dir)
    IvfIndex.saveAppend(model, delta, dir)
    val loaded = IvfIndex.load(spark, dir, embs)
    assert(loaded.assigned.count() == embs.count())
    // loaded assignment for base rows matches the trained model's
    val baseCells = model.assigned.select("vec_id", "cell")
      .as[(Long, Int)].collect().toMap
    val loadedCells = loaded.assigned.select("vec_id", "cell")
      .as[(Long, Int)].collect().toMap
    assert(baseCells.forall { case (id, c) => loadedCells(id) == c })
    // full-probe search over the loaded index equals brute force on the
    // full corpus (append path included)
    val ivf = IvfIndex.search(loaded, col("vec_id") < 5, k = 3, nProbe = 4)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val brute = EmbeddingSearch.bruteForceTopK(embs, col("vec_id") < 5, 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(ivf == brute)
  }

  test("federated search: live overlay version authoritative, retraction cedes") {
    val embs = Tables.embeddings(spark, sf0001).limit(100)
    val amended = embs.filter(col("vec_id") % 5 === 0)
      .withColumn("embedding", transform(col("embedding"), x => -x))
    val pa = graft.Gate.tmpDir("ivf_fed_a_")
    val pb = graft.Gate.tmpDir("ivf_fed_b_")
    IvfIndex.save(IvfIndex.build(amended, k = 2), pa)
    IvfIndex.save(IvfIndex.build(embs, k = 4), pb)
    val q = embs.filter(col("vec_id") === 0).select("vec_id", "embedding")
    def fed(k: Int) = IvfIndex.searchFederatedVectors(spark,
      Seq(pa -> amended, pb -> embs), q, k, nProbe = 4)
    // id 0's only servable version is the NEGATED overlay one (cos -1
    // to the raw query): the production cos-1.0 copy must not serve
    val top = fed(1).select("neighbor_id").as[Long].head()
    assert(top !== 0L)
    val id0 = fed(100).filter(col("neighbor_id") === 0L)
      .select("cos").as[Double].collect()
    assert(id0.nonEmpty && id0.forall(_ < 0))
    // retraction cedes: production's raw id 0 ranks itself first again
    IvfIndex.delete(spark, pa, Seq(0L).toDF("vec_id"), col("vec_id"))
    assert(fed(1).select("neighbor_id").as[Long].head() === 0L)
  }

  test("deleteVecs masks at search, compact removes physically, loadAt pins") {
    val embs = Tables.embeddings(spark, sf0001).limit(200)
    val model = IvfIndex.build(embs, k = 4)
    val dir = graft.Gate.tmpDir("ivf_del_")
    IvfIndex.save(model, dir)
    val v0 = graft.ext.IndexStore.snapshot(spark, dir).version
    val doomed = embs.filter(col("vec_id") % 5 === 1).select("vec_id")
    IvfIndex.delete(spark, dir, doomed, col("vec_id"))
    // tombstone-masked search == brute force over the surviving corpus
    val survivors = embs.filter(col("vec_id") % 5 =!= 1)
    def res(m: IvfIndex.Model) =
      IvfIndex.search(m, col("vec_id") < 5, k = 3, nProbe = 4)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val brute = EmbeddingSearch
      .bruteForceTopK(survivors, col("vec_id") < 5, 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val masked = res(IvfIndex.load(spark, dir, embs))
    assert(masked == brute)
    // double-delete is a no-op (no duplicate tombstones accumulate)
    IvfIndex.delete(spark, dir, doomed, col("vec_id"))
    assert(res(IvfIndex.load(spark, dir, embs)) == brute)
    // compact applies physically: same answers, no tombstone relation,
    // and the deleted ids are gone from the stored cells
    IvfIndex.compact(spark, dir, retainVersions = 8)
    assert(res(IvfIndex.load(spark, dir, embs)) == brute)
    val snap = graft.ext.IndexStore.snapshot(spark, dir)
    assert(snap.read("tombstones").isEmpty)
    val stored = snap.read("cells").get.select("vec_id")
      .as[Long].collect().toSet
    assert(stored.forall(_ % 5 != 1))
    // time travel: the pre-delete version still answers over everything
    val pinned = res(IvfIndex.loadAt(spark, dir, v0, embs))
    val bruteAll = EmbeddingSearch.bruteForceTopK(embs, col("vec_id") < 5, 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(pinned == bruteAll)
  }

  test("rebalance splits oversized cells, keeps a partition, same answers") {
    val embs = Tables.embeddings(spark, sf0001).limit(200)
    // k=2 forces ~100-vector cells; rebalance to a 30-vector cap
    val model = IvfIndex.build(embs, k = 2)
    val reb = IvfIndex.rebalance(model, maxCellSize = 30, sampleCap = 100)
    val sizes = reb.assigned.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    val before = model.assigned.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    // more, smaller cells; every vector still assigned exactly once
    assert(sizes.size > before.size)
    assert(sizes.values.max < before.values.max)
    assert(sizes.values.sum == 200L)
    assert(reb.assigned.select("vec_id").distinct().count() == 200L)
    // centroids and assignment agree on the cell id universe
    val centCells = reb.centroids.select("cell").as[Int].collect().toSet
    assert(sizes.keySet.subsetOf(centCells))
    // exhaustive probing is unchanged by any re-partitioning of cells
    def full(m: IvfIndex.Model) =
      IvfIndex.search(m, col("vec_id") < 5, k = 3, nProbe = 1000)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(full(reb) == full(model))
    // a no-op threshold returns the model untouched
    assert(IvfIndex.rebalance(model, maxCellSize = 1000) eq model)
  }

  test("rebalance bounds driver memory: worst-N cells per pass, convergent") {
    val embs = Tables.embeddings(spark, sf0001).limit(200)
    // k=4 with a cap of 20 makes (at least) several cells oversized
    val model = IvfIndex.build(embs, k = 4)
    val oversized = model.assigned.groupBy("cell").count()
      .filter(col("count") > 20).count()
    assert(oversized >= 2, s"fixture needs >=2 oversized cells, got $oversized")
    // one pass with maxCellsPerPass = 1 splits exactly the LARGEST cell:
    // the collected sample is bounded by 1 × sampleCap, not the skew
    val one = IvfIndex.rebalance(model, maxCellSize = 20, sampleCap = 100,
      maxCellsPerPass = 1)
    val before = model.assigned.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    val after = one.assigned.groupBy("cell").count()
      .as[(Int, Long)].collect().toMap
    val worst = before.toSeq.sortBy { case (c, n) => (-n, c) }.head._1
    assert(!after.keySet.contains(worst))
    // every other oversized cell is untouched this pass
    before.toSeq.filter { case (c, n) => n > 20 && c != worst }
      .foreach { case (c, n) => assert(after.get(c).contains(n)) }
    // the assignment is still a partition of the corpus
    assert(after.values.sum == 200L)
    // repeated bounded passes converge to the unbounded result's shape
    var m = model
    (1 to 8).foreach { _ =>
      m = IvfIndex.rebalance(m, maxCellSize = 20, sampleCap = 100,
        maxCellsPerPass = 1)
    }
    assert(m.assigned.groupBy("cell").count()
      .filter(col("count") > 20).count() === 0L)
    def full(x: IvfIndex.Model) =
      IvfIndex.search(x, col("vec_id") < 5, k = 3, nProbe = 1000)
        .select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    assert(full(m) == full(model))
  }

  test("external-vector search matches in-corpus search after self-shift") {
    val embs = Tables.embeddings(spark, sf0001).limit(200)
    val model = IvfIndex.build(embs, k = 4)
    val queries = embs.filter(col("vec_id") < 3)
      .select((-col("vec_id") - 1).as("vec_id"), col("embedding"))
    val got = IvfIndex.searchVectors(model, queries, k = 4, nProbe = 4)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect()
    assert(got.length == 12)
    got.filter(_._3 == 1).foreach { case (q, n, _) => assert(n == -q - 1) }
    val internal = IvfIndex.search(model, col("vec_id") < 3, k = 3, nProbe = 4)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val shifted = got.filter(_._3 > 1)
      .map { case (q, n, r) => (-q - 1, n, r - 1) }.toSet
    assert(shifted == internal)
  }

  test("maybeRebalance: gauge-driven fire on a saved index, exact " +
      "answers after, settles below the threshold") {
    val embs = Tables.embeddings(spark, sf0001).limit(200)
    val base = embs.filter(col("vec_id") % 3 =!= 0)
    val model = IvfIndex.build(base, k = 2) // two fat cells by design
    val path = graft.Gate.tmpDir("ivf_mreb_")
    IvfIndex.save(model, path)
    // frozen-quantizer append: cells only ever grow
    IvfIndex.saveAppend(model, embs.filter(col("vec_id") % 3 === 0), path)
    val maxBefore = IvfIndex.maxLiveCell(spark, path)
    assert(maxBefore >= 50L) // ~200 rows over 2 cells
    // at/above the gauge: no fire
    assert(!IvfIndex.maybeRebalance(spark, path, embs, maxBefore))
    // below it: fires, splits every oversized cell in one pass…
    val threshold = maxBefore * 2 / 3
    assert(IvfIndex.maybeRebalance(spark, path, embs, threshold))
    assert(IndexStore.opAt(spark, path,
      IndexStore.snapshot(spark, path).version) == "rebalance")
    // …and the halved cells sit under the threshold → next sweep no-ops
    assert(IvfIndex.maxLiveCell(spark, path) <= threshold)
    assert(!IvfIndex.maybeRebalance(spark, path, embs, threshold))
    // exactness: exhaustive probing over the rebalanced SAVED index is
    // brute force (a rebalance re-partitions, never loses/moves rows
    // across the partition contract)
    val got = IvfIndex.search(IvfIndex.load(spark, path, embs),
        col("vec_id") < 5, k = 3, nProbe = Int.MaxValue)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    val brute = EmbeddingSearch.bruteForceTopK(embs, col("vec_id") < 5, 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got == brute)
  }

  test("stats reports the live cell-occupancy envelope and layout debt") {
    val embs = Tables.embeddings(spark, sf0001).limit(120)
    val model = IvfIndex.build(embs, k = 3)
    val path = graft.Gate.tmpDir("ivf_stats_")
    IvfIndex.save(model, path)
    IvfIndex.delete(spark, path,
      embs.filter(col("vec_id") % 4 === 1).select("vec_id"), col("vec_id"))
    val got = IvfIndex.stats(spark, path)
      .as[(String, Long)].collect().toMap
    val live = IvfIndex.load(spark, path, embs).assigned
      .groupBy("cell").count().as[(Int, Long)].collect()
    assert(got("cells") === live.length.toLong)
    assert(got("cell_min") === live.map(_._2).min)
    assert(got("cell_max") === live.map(_._2).max)
    assert(got("live_rows") === live.map(_._2).sum)
    assert(got("segments") === 2L) // build + tombstone
    assert(got("tombstone_segments") === 1L)
    assert(got("version") === 2L)
  }

  test("IVF with partial probing returns k ranked cells-local neighbors") {
    val embs = Tables.embeddings(spark, sf0001)
    val model = IvfIndex.build(embs, k = 8)
    val res = IvfIndex.search(model, col("vec_id") < 3, k = 5, nProbe = 2)
      .collect()
    assert(res.length == 15) // 3 queries × k
    // ranks are 1..k per query and cosines are non-increasing
    res.groupBy(_.getAs[Long]("query_id")).values.foreach { rs =>
      val sorted = rs.sortBy(_.getAs[Int]("rank"))
      assert(sorted.map(_.getAs[Int]("rank")).toSeq == (1 to 5))
      val cs = sorted.map(_.getAs[Double]("cos")).toSeq
      assert(cs == cs.sorted.reverse)
    }
  }
}

package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The takedown orchestration laws: registry idempotence, the durable
  * intent log, crash-mid-flow recovery via [[Takedown.resume]], and
  * convergence — a killed-and-replayed retraction ends in exactly the
  * state a clean one-shot retraction produces.
  */
class TakedownSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha bravo charlie delta"),
    (2L, "alpha bravo echo foxtrot"),
    (3L, "golf hotel india juliet"),
    (4L, "kilo lima mike november"),
  ).toDF("doc_id", "text")

  private def setup(): (String, String, String) = {
    val root = tmpDir("td_root")
    val bm25 = tmpDir("td_bm25")
    val lit = tmpDir("td_lit")
    TextSearch.buildAndSave(docs, col("doc_id"), col("text"), bm25,
      buckets = 4)
    LiteralIndex.buildAndSave(docs, col("doc_id"), col("text"), lit,
      n = 4, buckets = 4)
    Takedown.register(spark, root, Takedown.Surface("bm25", bm25))
    Takedown.register(spark, root, Takedown.Surface("literal", lit))
    (root, bm25, lit)
  }

  private def bm25Ids(path: String): Set[Long] =
    TextSearch.searchSaved(spark, path,
        Seq((1L, Seq("alpha", "golf"))).toDF("qid", "qterms"),
        col("qid"), col("qterms"), k = 10)
      .select("id").as[Long].collect().toSet

  private def literalIds(path: String): Set[Long] =
    LiteralIndex.searchSaved(spark, path, docs, col("doc_id"), col("text"),
        Seq((9L, "alpha bravo"), (8L, "hotel india")).toDF("nid", "needle"),
        col("nid"), col("needle"))
      .select("id").as[Long].collect().toSet

  test("health() reports per-surface version/segment/tombstone state " +
    "and the graph quality debt") {
    val (root, bm25, lit) = setup()
    val gidx = tmpDir("td_gidx")
    val embs = (0 until 8).map(i => (i.toLong,
      Array(if (i % 2 == 0) 10f else 0f, if (i % 2 == 0) 0f else 10f,
        i * 0.01f))).toDF("vec_id", "embedding")
    KnnGraphIndex.build(embs, gidx, k = 3, iters = 3)
    Takedown.register(spark, root, Takedown.Surface("graph", gidx))
    KnnGraphIndex.insert(spark, gidx,
      Seq((100L, Array(10f, 0f, 0.5f))).toDF("vec_id", "embedding"))
    TextSearch.delete(spark, bm25, Seq(1L).toDF("doc_id"),
      col("doc_id"))
    val h = Takedown.health(spark, root).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(h.keySet === Set("bm25", "graph", "literal"))
    // bm25: build(v1) + delete(v2), one tombstone segment
    assert(h("bm25").getAs[Long]("version") === 2L)
    assert(h("bm25").getAs[Int]("tombstone_segments") === 1)
    // literal: untouched since build
    assert(h("literal").getAs[Long]("version") === 1L)
    assert(h("literal").getAs[Int]("tombstone_segments") === 0)
    // graph: build + one insert → 2 segments, quality debt (1, 0)
    assert(h("graph").getAs[Long]("version") === 2L)
    assert(h("graph").getAs[Int]("segments") === 2)
    assert(h("graph").getAs[Long]("graph_debt_deliveries") === 1L)
    assert(h("graph").getAs[Long]("graph_debt_tombstones") === 0L)
    assert(h("bm25").getAs[Long]("graph_debt_deliveries") === 0L)
  }

  test("registry is idempotent and stable-ordered") {
    val (root, bm25, lit) = setup()
    Takedown.register(spark, root, Takedown.Surface("bm25", bm25))
    Takedown.register(spark, root, Takedown.Surface("literal", lit))
    assert(Takedown.surfaces(spark, root) ==
      Seq(Takedown.Surface("bm25", bm25), Takedown.Surface("literal", lit)))
    assertThrows[IllegalArgumentException] {
      Takedown.register(spark, root, Takedown.Surface("nope", "/x"))
    }
  }

  test("a malformed registry entry fails by name; a register temp is " +
      "ignored") {
    val root = tmpDir("td_malformed")
    val bm25 = Takedown.Surface("bm25", s"$root/bm25")
    Takedown.register(spark, root, bm25)
    // what a crash inside register leaves: a hidden temp, never an entry
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_surfaces", ".s-0123.tmp-0123"),
      "bm25\n".getBytes("UTF-8"))
    assert(Takedown.surfaces(spark, root) == Seq(bm25))
    // an empty entry, as an in-place registry write torn by a crash leaves
    java.nio.file.Files.createFile(
      java.nio.file.Paths.get(root, "_surfaces", "s-00empty0"))
    val e = intercept[IllegalArgumentException] {
      Takedown.surfaces(spark, root)
    }
    assert(e.getMessage.contains("_surfaces/s-00empty0"))
  }

  test("one retract() excludes the ids from every registered surface") {
    val (root, bm25, lit) = setup()
    val rid = Takedown.retract(spark, root,
      Seq(1L, 3L).toDF("doc_id"), col("doc_id"))
    assert(Takedown.pending(spark, root).isEmpty, "retraction must finish")
    assert(bm25Ids(bm25) == Set(2L))
    assert(literalIds(lit) == Set(2L))
    // replay of the completed retraction is a no-op (markers + live-
    // presence idempotence), as is a fresh identical retraction
    Takedown.applyIntent(spark, root, rid)
    Takedown.retract(spark, root, Seq(1L, 3L).toDF("doc_id"), col("doc_id"))
    assert(bm25Ids(bm25) == Set(2L) && literalIds(lit) == Set(2L))
  }

  test("killed mid-flow: intent is pending, resume converges to one-shot") {
    val (root, bm25, lit) = setup()
    // write the intent and apply only the FIRST surface — the crash
    // point every multi-surface takedown has to survive
    val doomedDf = Seq(1L, 3L).toDF("doc_id")
    doomedDf.select(col("doc_id").as("id")).distinct()
      .coalesce(1).write.parquet(s"$root/_retractions/r-crash/ids")
    Takedown.applyIntent(spark, root, "r-crash", upTo = 1)
    // half-done world: bm25 (first in registry order) applied, literal not
    assert(bm25Ids(bm25) == Set(2L))
    assert(literalIds(lit) == Set(1L, 2L, 3L))
    assert(Takedown.pending(spark, root) == Seq("r-crash"))
    // recovery completes the intent; the end state equals a clean run
    assert(Takedown.resume(spark, root) == Seq("r-crash"))
    assert(Takedown.pending(spark, root).isEmpty)
    assert(bm25Ids(bm25) == Set(2L))
    assert(literalIds(lit) == Set(2L))
    // resume with nothing pending is a no-op
    assert(Takedown.resume(spark, root).isEmpty)
  }

  test("crash during the ids write leaves a never-landed intent") {
    val (root, bm25, lit) = setup()
    // simulate a crash mid-staging: the ids dir never got renamed into
    // place — only the staging dir (possibly half-written) exists
    Seq(1L).toDF("doc_id").select(col("doc_id").as("id"))
      .coalesce(1).write.parquet(s"$root/_retractions/r-halfwrit/ids-staging")
    // a half-written intent is NOT pending (no surface was touched for
    // it) and resume() must neither throw nor apply anything
    assert(Takedown.pending(spark, root).isEmpty)
    assert(Takedown.resume(spark, root).isEmpty)
    assert(bm25Ids(bm25) == Set(1L, 2L, 3L))
    assert(literalIds(lit) == Set(1L, 2L, 3L))
    // and the wreck does not block later retractions from completing
    Takedown.retract(spark, root, Seq(3L).toDF("doc_id"), col("doc_id"))
    assert(Takedown.pending(spark, root).isEmpty)
    assert(bm25Ids(bm25) == Set(1L, 2L))
  }

  private def storeIds(path: String): Set[Long] =
    CorpusStore.read(spark, path).select("id").as[Long].collect().toSet

  test("store-of-record surface: one intent covers corpus rows and indexes") {
    val (root, bm25, lit) = setup()
    val store = tmpDir("td_store")
    CorpusStore.build(docs, col("doc_id"), store)
    Takedown.register(spark, root, Takedown.Surface("store", store))
    Takedown.retract(spark, root, Seq(1L, 3L).toDF("doc_id"), col("doc_id"))
    assert(storeIds(store) == Set(2L, 4L))
    assert(bm25Ids(bm25) == Set(2L))
    assert(literalIds(lit) == Set(2L))
    // crash BEFORE the store surface applies ('store' sorts last in
    // registry order): corpus rows still live, resume() finishes them
    Seq(2L).toDF("doc_id").select(col("doc_id").as("id"))
      .coalesce(1).write.parquet(s"$root/_retractions/r-storecrash/ids")
    Takedown.applyIntent(spark, root, "r-storecrash", upTo = 2)
    assert(storeIds(store) == Set(2L, 4L), "store must not have applied yet")
    assert(Takedown.pending(spark, root) == Seq("r-storecrash"))
    assert(Takedown.resume(spark, root) == Seq("r-storecrash"))
    assert(storeIds(store) == Set(4L))
    assert(bm25Ids(bm25).isEmpty)
  }

  test("maintain() compacts only debt-laden surfaces and GC honors leases") {
    val (root, bm25, lit) = setup()
    // pile segment debt on bm25 only
    (10L to 13L).foreach { i =>
      TextSearch.appendDocs(spark, bm25,
        Seq((i, s"november oscar papa quebec $i")).toDF("doc_id", "text"),
        col("doc_id"), col("text"))
    }
    assert(IndexStore.segmentCount(spark, bm25) > 3)
    val pre = bm25Ids(bm25)
    // a durably recorded selection from just before the sweep
    val (sid, _) = SelectionLog.run(spark, root)(identity)
    val compacted = Takedown.maintain(spark, root, maxSegments = 3,
      retainVersions = 2)
    assert(compacted.map(_.kind) == Seq("bm25"),
      s"only the debt-laden surface compacts, got $compacted")
    assert(IndexStore.segmentCount(spark, bm25) == 1)
    assert(bm25Ids(bm25) == pre, "compaction must not change the live view")
    assert(IndexStore.segmentCount(spark, lit) == 1)
    // the recorded selection still replays: maintenance pruned history
    // only to the retention window, which covers the recorded version
    SelectionLog.replay(spark, root, sid) { vector =>
      val at = vector.map { case (s, v) => s.kind -> v }.toMap
      val pinned = TextSearch.searchSavedAt(spark, bm25, at("bm25"),
          Seq((1L, Seq("alpha", "golf"))).toDF("qid", "qterms"),
          col("qid"), col("qterms"), k = 10)
        .select("id").as[Long].collect().toSet
      assert(pinned == Set(1L, 2L, 3L), s"pinned replay saw $pinned")
    }
  }

  test("maintain() isolates a corrupted surface: healthy surfaces still " +
      "compact and GC, the failure re-throws naming the bad root") {
    val (root, bm25, lit) = setup()
    (10L to 13L).foreach { i =>
      TextSearch.appendDocs(spark, bm25,
        Seq((i, s"november oscar papa quebec $i")).toDF("doc_id", "text"),
        col("doc_id"), col("text"))
    }
    assert(IndexStore.segmentCount(spark, bm25) > 3)
    // a registered surface whose root is NOT an index (wiped out-of-band)
    val broken = tmpDir("td_broken")
    Takedown.register(spark, root, Takedown.Surface("graph", broken))
    val e = intercept[RuntimeException] {
      Takedown.maintain(spark, root, maxSegments = 3)
    }
    assert(e.getMessage.contains(broken))
    assert(e.getMessage.contains("every other surface was maintained"))
    // the healthy fleet was still maintained despite the bad surface
    assert(IndexStore.segmentCount(spark, bm25) == 1)
    assert(IndexStore.segmentCount(spark, lit) == 1)
  }

  test("maintain(maxIvfCell) fires the trained-family rebalance from " +
      "the registry's own vector store and answers stay exact") {
    import graft.Tables
    val embs = Tables.embeddings(spark, sf0001).limit(200)
    val root = tmpDir("td_ivfm_root")
    val store = tmpDir("td_ivfm_store")
    val ivf = tmpDir("td_ivfm_ivf")
    CorpusStore.build(embs, col("vec_id"), store)
    val base = embs.filter(col("vec_id") % 3 =!= 0)
    val model = IvfIndex.build(base, k = 2) // two fat cells
    IvfIndex.save(model, ivf)
    IvfIndex.saveAppend(model, embs.filter(col("vec_id") % 3 === 0), ivf)
    Takedown.register(spark, root, Takedown.Surface("store", store))
    Takedown.register(spark, root, Takedown.Surface("ivf", ivf))
    val maxBefore = IvfIndex.maxLiveCell(spark, ivf)
    // default sweep (maxIvfCell = 0): the pass is OFF — no fire
    assert(!Takedown.maintain(spark, root, maxSegments = 100)
      .exists(_.kind == "ivf"))
    // armed sweep: the REGISTRY, not a caller, fires the rebalance,
    // resolving vectors from the registered store of record
    val threshold = maxBefore * 2 / 3
    val swept = Takedown.maintain(spark, root, maxSegments = 100,
      maxIvfCell = threshold)
    assert(swept.exists(_.kind == "ivf"))
    assert(IvfIndex.maxLiveCell(spark, ivf) <= threshold)
    // debt paid: the next armed sweep is a no-op
    assert(!Takedown.maintain(spark, root, maxSegments = 100,
      maxIvfCell = threshold).exists(_.kind == "ivf"))
    // exactness survives the registry-driven split
    val got = IvfIndex.search(IvfIndex.load(spark, ivf, embs),
      col("vec_id") < 5, k = 3, nProbe = Int.MaxValue)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    val brute = EmbeddingSearch.bruteForceTopK(embs, col("vec_id") < 5, 3)
      .select("query_id", "neighbor_id", "rank").collect().toSet
    assert(got.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))) ===
      brute.map(r => (r.getLong(0), r.getLong(1), r.getInt(2))))
  }

  test("health() reports codebook_age for the trained codec families") {
    import graft.Tables
    val embs = Tables.embeddings(spark, sf0001).limit(100)
    val root = tmpDir("td_age_root")
    val pq = tmpDir("td_age_pq")
    val sq = tmpDir("td_age_sq")
    val base = embs.filter(col("vec_id") % 2 === 0)
    val pqm = PqIndex.build(base, m = 4, k = 8, sampleFraction = 1.0)
    PqIndex.save(pqm, pq)
    PqIndex.saveAppend(pqm, embs.filter(col("vec_id") % 2 === 1), pq)
    val sqm = SqIndex.build(base)
    SqIndex.save(sqm, sq)
    Takedown.register(spark, root, Takedown.Surface("pq", pq))
    Takedown.register(spark, root, Takedown.Surface("sq", sq))
    val h = Takedown.health(spark, root).collect()
      .map(r => r.getString(0) -> r).toMap
    // pq trained at v1, appended at v2 → age 1; sq fresh → age 0
    assert(h("pq").getAs[Long]("codebook_age") === 1L)
    assert(h("sq").getAs[Long]("codebook_age") === 0L)
    // retrain resets the gauge through the same dashboard
    PqIndex.retrain(spark, pq, embs, m = 4, k = 8, sampleFraction = 1.0)
    val h2 = Takedown.health(spark, root).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(h2("pq").getAs[Long]("codebook_age") === 0L)
  }

  test("pinAll resolves one commit point; withPinned leases survive GC") {
    val (root, bm25, lit) = setup()
    val vector = Takedown.pinAll(spark, root)
    assert(vector.map(_._1.kind) == Seq("bm25", "literal"))
    Takedown.withPinned(spark, root) { vec =>
      val at = vec.map { case (s, v) => s.kind -> v }.toMap
      // race: new doc lands on both surfaces after the pin, then a
      // compaction cycle that would GC the pinned version without the
      // lease (retainVersions=1 keeps only the newest manifest)
      val nw = Seq((9L, "alpha zulu yankee xray")).toDF("doc_id", "text")
      TextSearch.appendDocs(spark, bm25, nw, col("doc_id"), col("text"))
      TextSearch.compact(spark, bm25, retainVersions = 1)
      LiteralIndex.appendDocs(spark, lit, nw, col("doc_id"), col("text"))
      LiteralIndex.compact(spark, lit, retainVersions = 1)
      // the pinned versions answer PRE-append on both surfaces
      val bmPinned = TextSearch.searchSavedAt(spark, bm25, at("bm25"),
          Seq((1L, Seq("alpha", "golf"))).toDF("qid", "qterms"),
          col("qid"), col("qterms"), k = 10)
        .select("id").as[Long].collect().toSet
      assert(bmPinned == Set(1L, 2L, 3L), s"pinned bm25 saw $bmPinned")
      val verifyCorpus = docs.unionByName(nw)
      val ltPinned = LiteralIndex.searchSavedAt(spark, lit, at("literal"),
          verifyCorpus, col("doc_id"), col("text"),
          Seq((7L, "alpha zulu")).toDF("nid", "needle"),
          col("nid"), col("needle"))
        .select("id").as[Long].collect().toSet
      assert(ltPinned.isEmpty, s"pinned literal saw post-append doc $ltPinned")
    }
    // leases released: the next GC cycle may drop the pinned versions,
    // and CURRENT reads see the appended doc on both surfaces
    assert(bm25Ids(bm25).contains(9L))
  }
}

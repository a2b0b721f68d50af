package graft.ext

import org.apache.spark.sql.functions._
import graft.SparkSpec

class KnnGraphIndexSpec extends SparkSpec {
  import spark.implicits._

  /** Two tight clusters, ids interleaved (even = A, odd = B) — the
    * EmbeddingSearchSpec fixture: NN-Descent converges exactly, and
    * the smallest-id entry set {0, 1} covers one node per kNN
    * component, so beam search must answer brute force.
    */
  private def clustered = (0 until 12).map { i =>
    val base = if (i % 2 == 0) Array(10f, 0f, 0f) else Array(0f, 10f, 0f)
    (i.toLong, base.zipWithIndex.map { case (v, j) =>
      v + (if (j == 2) i * 0.01f else 0f) })
  }.toDF("vec_id", "embedding")

  private def dir() = graft.Gate.tmpDir("spec_knngi_")

  private def answers(path: String, queries: org.apache.spark.sql.DataFrame,
      k: Int = 3) =
    KnnGraphIndex.search(spark, path, queries, k = k, beamWidth = 6,
        hops = 4, entryPoints = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet

  test("build + search answers brute force on clustered data") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    val queries = clustered.filter(col("vec_id") < 4)
    val want = EmbeddingSearch.bruteForceTopKFor(clustered, queries, 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(answers(path, queries) === want)
  }

  test("append wires a delivery in warm and is live-presence idempotent") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    val delivery = Seq((100L, Array(10f, 0f, 0.5f)))
      .toDF("vec_id", "embedding")
    val v1 = KnnGraphIndex.append(spark, path, delivery, warmIters = 2)
    // re-admitting the same delivery publishes nothing
    assert(KnnGraphIndex.append(spark, path, delivery, warmIters = 2)
      === v1)
    // live edges ≡ the exact 13-node graph (warm start converges on
    // clustered data — the EmbeddingSearchSpec warm contract, here
    // read back through the index's tombstone-masked live view)
    val all = clustered.unionByName(delivery)
    val want = EmbeddingSearch.knnGraph(all, k = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val live = KnnGraphIndex
      .liveEdges(IndexStore.snapshot(spark, path))
      .select(col("vec_id"), col("rank"), col("neighbor_id"))
      .as[(Long, Int, Long)].collect().toSet
    assert(live === want)
    // and the new node answers as a query over the updated index
    val got = answers(path, all.filter(col("vec_id") === 100L))
    val bf = EmbeddingSearch.bruteForceTopKFor(all,
        all.filter(col("vec_id") === 100L), 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(got === bf)
  }

  test("insert wires a delivery by beam search and is live-presence " +
      "idempotent") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    val delivery = Seq((100L, Array(10f, 0f, 0.5f)),
        (101L, Array(0f, 10f, 0.5f)))
      .toDF("vec_id", "embedding")
    val v1 = KnnGraphIndex.insert(spark, path, delivery)
    // re-inserting the same delivery publishes nothing
    assert(KnnGraphIndex.insert(spark, path, delivery) === v1)
    // each new node answers as a query ≡ brute force over the union
    val all = clustered.unionByName(delivery)
    val want = EmbeddingSearch.bruteForceTopKFor(all, delivery, 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(answers(path, delivery) === want)
    // back-links landed: the delivered nodes are reachable as NEIGHBORS
    // from old nodes in their clusters (k = 7 — each delivery sits at
    // the far z-edge of its 6-node cluster, so it ranks exactly 7th)
    val probeA = clustered.filter(col("vec_id") === 0L)
    assert(answers(path, probeA, k = 7).map(_._3).contains(100L))
    val probeB = clustered.filter(col("vec_id") === 1L)
    assert(answers(path, probeB, k = 7).map(_._3).contains(101L))
  }

  test("insert-by-search scoring is walk-bounded, never corpus-bounded") {
    // the law behind the delta-bounded maintenance tick: the walk's
    // visited state (= every candidate the insertion scores against the
    // old corpus) obeys |delivery| × (entries + hops × beam × degree) —
    // corpus size NEVER enters the bound. Checked on two corpora 3×
    // apart with identical knobs.
    def corpus(n: Int) = (0 until n).map { i =>
      val c = i % 8
      (i.toLong, Array.tabulate(4)(j =>
        (if (j == c % 4) 10f else 0f) * (if (c < 4) 1f else -1f) +
          i * 0.001f))
    }.toDF("vec_id", "embedding")
    val delivery = Seq((9000L, Array(10f, 0.2f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    def walkState(n: Int): (Long, Long) = {
      val embs = corpus(n)
      val graph = EmbeddingSearch.nnDescent(embs, k = 3, iters = 3)
      val e = graph.select(col("query_id").as("src"),
        col("neighbor_id").as("dst"))
      val maxDeg = e.unionByName(e.select(col("dst").as("src"),
          col("src").as("dst"))).distinct()
        .groupBy("src").count().agg(max("count")).as[Long].head()
      val st = EmbeddingSearch.graphSearchState(embs, graph, delivery,
        beamWidth = 4, hops = 3, entryPoints = 2)
      (st.count(), maxDeg)
    }
    val (c1, d1) = walkState(64)
    val (c2, d2) = walkState(192)
    assert(c1 <= 2 + 3 * 4 * d1)
    assert(c2 <= 2 + 3 * 4 * d2)
    // and strictly sub-corpus at the larger scale: the walk visited a
    // neighborhood, not the corpus (brute force would score 192)
    assert(c2 < 192)
  }

  test("delete masks a node, searches answer over survivors, readd revives") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    // node 2 (cluster A, not an entry point) goes away
    KnnGraphIndex.delete(spark, path, Seq(2L).toDF("vec_id"),
      col("vec_id"))
    val probe = clustered.filter(col("vec_id") === 2L)
    val gotIds = answers(path, probe, k = 3).map(_._3)
    assert(!gotIds.contains(2L))
    assert(gotIds.forall(id => id % 2 == 0)) // still lands in cluster A
    // idempotent: deleting again publishes nothing
    val v = IndexStore.snapshot(spark, path).version
    KnnGraphIndex.delete(spark, path, Seq(2L).toDF("vec_id"),
      col("vec_id"))
    assert(IndexStore.snapshot(spark, path).version === v)
    // readd: the same node re-admits (scoped tombstones — live again)
    KnnGraphIndex.append(spark, path,
      clustered.filter(col("vec_id") === 2L), warmIters = 2)
    val revived = answers(path, probe, k = 1)
    assert(revived.map(_._3) === Set(2L)) // ranks itself first again
  }

  test("compact preserves answers and scrubs dangling references") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    KnnGraphIndex.delete(spark, path, Seq(2L, 4L).toDF("vec_id"),
      col("vec_id"))
    val queries = clustered.filter(col("vec_id") % 2 === 1)
    val before = answers(path, queries)
    KnnGraphIndex.compact(spark, path)
    assert(answers(path, queries) === before)
    val live = KnnGraphIndex.liveEdges(IndexStore.snapshot(spark, path))
    assert(live.filter(col("neighbor_id").isin(2L, 4L)).isEmpty)
    assert(live.filter(col("vec_id").isin(2L, 4L)).isEmpty)
  }

  test("rewire restores full degrees after delete + compact and " +
      "re-converges to the survivors' exact graph") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    KnnGraphIndex.delete(spark, path, Seq(2L, 4L).toDF("vec_id"),
      col("vec_id"))
    KnnGraphIndex.compact(spark, path) // scrubs dangling refs → degree < k
    val survivors = clustered.filter(!col("vec_id").isin(2L, 4L))
    val before = KnnGraphIndex
      .liveEdges(IndexStore.snapshot(spark, path))
      .groupBy("vec_id").count()
      .agg(min("count")).as[Long].head()
    assert(before < 3L)
    KnnGraphIndex.rewire(spark, path, iters = 2)
    val live = KnnGraphIndex
      .liveEdges(IndexStore.snapshot(spark, path))
      .select(col("vec_id"), col("rank"), col("neighbor_id"))
      .as[(Long, Int, Long)].collect().toSet
    val want = EmbeddingSearch.knnGraph(survivors, k = 3)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(live === want)
    // an already-converged graph re-wires to a no-op publish
    val v = IndexStore.snapshot(spark, path).version
    assert(KnnGraphIndex.rewire(spark, path, iters = 1) === v)
  }

  test("graph registers as a takedown/ingest surface: one admit lands " +
      "on store AND graph, one retract scrubs both") {
    val root = dir()
    val store = dir()
    val gidx = dir()
    val base = clustered.select(col("vec_id").as("id"),
      col("embedding").as("emb"))
    CorpusStore.build(base, col("id"), store)
    KnnGraphIndex.build(clustered, gidx, k = 3, iters = 3)
    Takedown.register(spark, root, Takedown.Surface("store", store))
    Takedown.register(spark, root, Takedown.Surface("graph", gidx))
    val delivery = Seq((100L, Array(10f, 0f, 0.5f))).toDF("id", "emb")
    Ingest.admit(spark, root, delivery, col("id"))
    // both surfaces answer: the store row exists, the graph serves the
    // new vector as its own nearest neighbor
    assert(CorpusStore.read(spark, store)
      .filter(col("id") === 100L).count() === 1L)
    val q = Seq((100L, Array(10f, 0f, 0.5f))).toDF("vec_id", "embedding")
    assert(answers(gidx, q, k = 1).map(_._3) === Set(100L))
    // one retract scrubs both
    Takedown.retract(spark, root, Seq(100L).toDF("id"), col("id"))
    assert(CorpusStore.read(spark, store)
      .filter(col("id") === 100L).isEmpty)
    assert(!answers(gidx, q, k = 3).map(_._3).contains(100L))
  }

  test("streamed index maintenance: a takedown between micro-batches " +
      "masks the node in the next batch's serving") {
    val path = dir()
    val in = graft.Gate.tmpDir("spec_sgi_in_")
    val ckpt = graft.Gate.tmpDir("spec_sgi_ck_")
    val all = clustered
    all.filter(col("vec_id") < 6).coalesce(1)
      .write.parquet(s"$in/d1")
    all.filter(col("vec_id") >= 6).coalesce(1)
      .write.parquet(s"$in/d2")
    val stream = spark.readStream.schema(all.schema)
      .option("maxFilesPerTrigger", "1")
      .option("recursiveFileLookup", "true").parquet(in)
    var delivered = 0
    val q = stream.writeStream
      .option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (delivered == 0) {
          KnnGraphIndex.build(batch, path, k = 3, iters = 3)
          // the takedown lands BETWEEN batches — the next batch's
          // insert and every later serving must not resurrect node 2
          KnnGraphIndex.delete(spark, path, Seq(2L).toDF("vec_id"),
            col("vec_id"))
        } else KnnGraphIndex.insert(spark, path, batch)
        delivered += 1
        ()
      }.start()
    q.awaitTermination()
    assert(delivered === 2)
    val got = answers(path, all.filter(col("vec_id") % 2 === 0), k = 4)
    assert(!got.map(_._3).contains(2L))
    // the second batch's nodes serve (they were inserted post-delete)
    assert(got.map(_._3).exists(_ >= 6L))
  }

  test("searchAt answers the retained pre-delivery version") {
    val path = dir()
    val v1 = KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    val delivery = Seq((100L, Array(10f, 0f, 0.5f)))
      .toDF("vec_id", "embedding")
    KnnGraphIndex.append(spark, path, delivery, warmIters = 2)
    // as of v1 the delivery does not exist: a query AT its vector must
    // answer the old corpus (node 100 absent from the results)
    val got = KnnGraphIndex.searchAt(spark, path, v1, delivery, k = 3,
        beamWidth = 6, hops = 4, entryPoints = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!got.contains(100L))
    assert(got.nonEmpty && got.forall(_ % 2 == 0)) // its true cluster, pre-delivery
  }

  test("an oversized delivery fails loudly with a build-from-scratch " +
      "message instead of going quadratic") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    val bulk = (200 until 210).map(i =>
      (i.toLong, Array(10f, 0f, i * 0.01f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      KnnGraphIndex.insert(spark, path, bulk, maxDelivery = 4)
    }
    assert(e.getMessage.contains("build from scratch"))
    // and the guarded delivery admits fine when the cap allows it
    assert(KnnGraphIndex.insert(spark, path, bulk, maxDelivery = 16) >= 2L)
  }

  /** Recompute directed-endpoint degrees from the live edges — the
    * invariant the summable degree deltas must maintain.
    */
  private def degreesFromEdges(path: String): Set[(Long, Long)] = {
    val edges = KnnGraphIndex.liveEdges(IndexStore.snapshot(spark, path))
    edges.select(col("vec_id"))
      .unionByName(edges.select(col("neighbor_id").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("d"))
      .as[(Long, Long)].collect().toSet
  }

  test("degree deltas stay consistent with the live edges through " +
      "build, insert, append, and rewire") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    def liveDeg = KnnGraphIndex
      .liveDegrees(IndexStore.snapshot(spark, path))
      .as[(Long, Long)].collect().toSet
    assert(liveDeg === degreesFromEdges(path))
    KnnGraphIndex.insert(spark, path,
      Seq((100L, Array(10f, 0f, 0.5f))).toDF("vec_id", "embedding"))
    assert(liveDeg === degreesFromEdges(path))
    KnnGraphIndex.append(spark, path,
      Seq((101L, Array(0f, 10f, 0.5f))).toDF("vec_id", "embedding"),
      warmIters = 2)
    assert(liveDeg === degreesFromEdges(path))
    KnnGraphIndex.rewire(spark, path, iters = 1)
    assert(liveDeg === degreesFromEdges(path))
  }

  test("maybeRewire fires exactly once past the debt threshold and the " +
      "post-fire hub set equals a full election") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    assert(KnnGraphIndex.debt(spark, path) === ((0L, 0L)))
    KnnGraphIndex.insert(spark, path,
      Seq((100L, Array(10f, 0f, 0.5f))).toDF("vec_id", "embedding"))
    KnnGraphIndex.insert(spark, path,
      Seq((101L, Array(0f, 10f, 0.5f))).toDF("vec_id", "embedding"))
    assert(KnnGraphIndex.debt(spark, path) === ((2L, 0L)))
    // at the threshold: does NOT fire (one below the trigger)
    assert(!KnnGraphIndex.maybeRewire(spark, path, maxDebt = 2))
    KnnGraphIndex.delete(spark, path, Seq(2L).toDF("vec_id"),
      col("vec_id"))
    assert(KnnGraphIndex.debt(spark, path) === ((2L, 1L)))
    // past the threshold: fires, pays the debt in full…
    assert(KnnGraphIndex.maybeRewire(spark, path, maxDebt = 2))
    assert(KnnGraphIndex.debt(spark, path) === ((0L, 0L)))
    // …and therefore fires exactly once
    assert(!KnnGraphIndex.maybeRewire(spark, path, maxDebt = 2))
    // post-fire law: the persisted hub set ≡ a full election over the
    // live degree totals (deg desc, id asc, top-H, deg > 0)
    val snap = IndexStore.snapshot(spark, path)
    val hubs = KnnGraphIndex.liveHubs(snap)
      .as[(Long, Long)].collect().toMap
    val want = KnnGraphIndex.liveDegrees(snap)
      .as[(Long, Long)].collect().filter(_._2 > 0)
      .sortBy { case (id, d) => (-d, id) }.take(64).toMap
    assert(hubs === want)
  }

  test("Takedown.maintain triggers the graph quality pass past " +
      "maxGraphDebt") {
    val root = dir()
    val gidx = dir()
    KnnGraphIndex.build(clustered, gidx, k = 3, iters = 3)
    Takedown.register(spark, root, Takedown.Surface("graph", gidx))
    (0 until 3).foreach { i =>
      KnnGraphIndex.insert(spark, gidx,
        Seq((200L + i, Array(10f, 0f, 1f + i * 0.01f)))
          .toDF("vec_id", "embedding"))
      ()
    }
    assert(KnnGraphIndex.debt(spark, gidx) === ((3L, 0L)))
    val swept = Takedown.maintain(spark, root, maxSegments = 100,
      maxGraphDebt = 2)
    assert(swept.map(_.kind) === Seq("graph"))
    assert(KnnGraphIndex.debt(spark, gidx) === ((0L, 0L)))
    // the debt is paid: the next sweep is a no-op
    assert(Takedown.maintain(spark, root, maxSegments = 100,
      maxGraphDebt = 2).isEmpty)
  }

  test("delete then rewire leaves no phantom degree rows for dead ids") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    KnnGraphIndex.delete(spark, path, Seq(2L, 4L).toDF("vec_id"),
      col("vec_id"))
    def liveDeg = KnnGraphIndex
      .liveDegrees(IndexStore.snapshot(spark, path))
      .as[(Long, Long)].collect().toSet
    def liveOnly(s: Set[(Long, Long)]) =
      s.filterNot(kv => kv._1 == 2L || kv._1 == 4L)
    // stored totals may only OVERSTATE live nodes (the dead nodes' own
    // masked edges contributed +1s keyed under their live endpoints —
    // the documented stale-until-compact posture); they must never
    // understate, and dead ids must carry no rows at all
    def staleOnlyOverstates(): Unit = {
      val derived = liveOnly(degreesFromEdges(path)).toMap
      val stored = liveDeg
      assert(!stored.exists(kv => kv._1 == 2L || kv._1 == 4L),
        s"phantom degree rows for dead ids: $stored")
      assert(stored.forall(_._2 > 0L))
      assert(stored.map(_._1) === derived.keySet)
      stored.foreach { case (id, d) =>
        assert(d >= derived(id), s"node $id stored $d < live-edge " +
          s"count ${derived(id)} — a phantom NEGATIVE delta landed")
      }
    }
    staleOnlyOverstates()
    // rewire WITHOUT compact: changed nodes drop their dangling
    // references — the −1 endpoint contributions for the dead ids must
    // NOT land as new unmasked rows (pre-fix: net-negative phantom
    // rows for ids 2 and 4 until compact)
    KnnGraphIndex.rewire(spark, path, iters = 2)
    staleOnlyOverstates()
    // compact clears the overstatement: exact equality from then on
    KnnGraphIndex.compact(spark, path)
    assert(liveDeg === liveOnly(degreesFromEdges(path)))
  }

  test("a delivery with conflicting duplicate rows fails loudly; exact " +
      "duplicate rows collapse") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    val conflicting = Seq((100L, Array(10f, 0f, 0.5f)),
        (100L, Array(0f, 10f, 0.5f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      KnnGraphIndex.insert(spark, path, conflicting)
    }
    assert(e.getMessage.contains("CONFLICTING"))
    // nothing landed: the index is still at its build version
    assert(IndexStore.snapshot(spark, path).version === 1L)
    // a NULL embedding beside a non-null one under the same id is a
    // conflict too (countDistinct alone would ignore the null row and
    // let an arbitrary survivor through)
    val nullMix = Seq((101L, Some(Array(10f, 0f, 0.5f))),
        (101L, None))
      .toDF("vec_id", "embedding")
    val e2 = intercept[IllegalArgumentException] {
      KnnGraphIndex.insert(spark, path, nullMix)
    }
    assert(e2.getMessage.contains("CONFLICTING"))
    // an exact duplicate (a retried row) collapses and admits once
    val dup = Seq((100L, Array(10f, 0f, 0.5f)),
        (100L, Array(10f, 0f, 0.5f)))
      .toDF("vec_id", "embedding")
    KnnGraphIndex.insert(spark, path, dup)
    assert(KnnGraphIndex
      .liveVectors(IndexStore.snapshot(spark, path))
      .filter(col("vec_id") === 100L).count() === 1L)
  }

  test("a legacy index (meta without hubs, no degrees/hubs relations) " +
      "serves and backfills on its first maintenance commit") {
    val path = dir()
    // hand-publish the pre-serving-relations layout: one segment with
    // meta(k)+vectors+edges only — what round-11 code persisted
    IndexStore.commit(spark, path, "build", IndexStore.Replace())(
      IndexStore.Rel("meta")(Seq(3).toDF("k").coalesce(1).write.parquet(_)),
      IndexStore.Rel("vectors")(clustered.write.parquet(_)),
      IndexStore.Rel("edges")(EmbeddingSearch.knnGraph(clustered, 3)
        .select(col("query_id").as("vec_id"), col("neighbor_id"),
          col("cos"), col("rank"), lit(1L).as("gen"))
        .write.parquet(_)))
    // hub serving works via the fallback election (no opaque
    // field-not-found / missing-relation error)
    val q = clustered.filter(col("vec_id") === 0L)
    val got = KnnGraphIndex.search(spark, path, q, k = 3, beamWidth = 6,
        hops = 4, entryPoints = 2, hubEntries = true)
      .select("neighbor_id").as[Long].collect().toSet
    assert(got.nonEmpty && got.forall(_ % 2 == 0))
    // the first maintenance commit BACKFILLS both relations…
    KnnGraphIndex.insert(spark, path,
      Seq((100L, Array(10f, 0f, 0.5f))).toDF("vec_id", "embedding"))
    val snap = IndexStore.snapshot(spark, path)
    assert(snap.segments("degrees").nonEmpty)
    assert(snap.segments("hubs").nonEmpty)
    // …and the summable-delta invariant holds from then on
    val liveDeg = KnnGraphIndex.liveDegrees(snap)
      .as[(Long, Long)].collect().toSet
    assert(liveDeg === degreesFromEdges(path))
  }

  test("hubs re-elect at maintenance time and a deleted hub leaves " +
      "the persisted entry set") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    val snap0 = IndexStore.snapshot(spark, path)
    val hubs0 = KnnGraphIndex.liveHubs(snap0)
      .as[(Long, Long)].collect().toMap
    // the elected set ≡ a full election over the degree totals
    val want = KnnGraphIndex.liveDegrees(snap0)
      .as[(Long, Long)].collect()
      .sortBy { case (id, d) => (-d, id) }.take(64).toMap
    assert(hubs0 === want)
    val victim = hubs0.keys.min
    KnnGraphIndex.delete(spark, path,
      Seq(victim).toDF("vec_id"), col("vec_id"))
    val hubs1 = KnnGraphIndex
      .liveHubs(IndexStore.snapshot(spark, path))
      .as[(Long, Long)].collect().toMap
    assert(!hubs1.contains(victim))
  }

  test("persisted hub serving answers from the hubs relation — " +
      "hub-and-spokes geometry reached at hops=1") {
    // the EmbeddingSearchSpec hub law, replayed through the PERSISTED
    // entry set: 19 spokes share a dominant axis plus a private
    // orthogonal component, the center (id 19) sits on the axis —
    // every spoke's nearest neighbor is the center, so the center's
    // reverse-kNN in-degree is ~n and the degree-elected entry IS the
    // hub, while the smallest-id entry sits at the graph's edge.
    val dim = 21
    val rows = (0 until 19).map { i =>
      val a = 2.0f - 0.01f * i
      (i.toLong, Array.tabulate(dim)(j =>
        if (j == 0) 10f else if (j == i + 1) a else 0f))
    } :+ ((19L, Array.tabulate(dim)(j => if (j == 0) 10f else 0f)))
    val hubEmbs = rows.toDF("vec_id", "embedding")
    val graph = EmbeddingSearch.knnGraph(hubEmbs, 2)
    val path = dir()
    KnnGraphIndex.buildFrom(hubEmbs, graph, path, k = 2)
    val query = hubEmbs.filter(col("vec_id") === 5L)
      .select((col("vec_id") + 100).as("vec_id"), col("embedding"))
    def top1(hub: Boolean): Long =
      KnnGraphIndex.search(spark, path, query, k = 1, beamWidth = 4,
          hops = 1, entryPoints = 1, hubEntries = hub)
        .select("neighbor_id").as[Long].head()
    assert(top1(hub = true) === 5L) // hub entry reaches in one hop
    assert(top1(hub = false) !== 5L) // smallest-id entry does not
  }

  test("persisted filtered serving matches graphSearchWhere over the " +
      "same graph") {
    val path = dir()
    val graph = EmbeddingSearch.knnGraph(clustered, 3)
    KnnGraphIndex.buildFrom(clustered, graph, path, k = 3)
    val queries = clustered.filter(col("vec_id") < 4)
    val pred = col("vec_id") % 2 === 1
    val got = KnnGraphIndex.search(spark, path, queries, k = 2,
        beamWidth = 6, hops = 4, entryPoints = 2, where = Some(pred))
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    val want = EmbeddingSearch.graphSearchWhere(clustered, graph,
        queries, pred, k = 2, beamWidth = 6, hops = 4, entryPoints = 2)
      .select("query_id", "rank", "neighbor_id")
      .as[(Long, Int, Long)].collect().toSet
    assert(got === want)
    assert(got.nonEmpty && got.forall(_._3 % 2 == 1))
  }

  test("federated graph search: overlay wins, delete cedes back to " +
      "production") {
    val overlay = dir()
    val prod = dir()
    // production: the clustered corpus; overlay: node 0 re-delivered
    // AMENDED (flipped to cluster B) — a federated query at node 0's
    // ORIGINAL vector must resolve node 0 through the overlay (where
    // it now sits in cluster B, scoring low), so production's node 0
    // may NOT answer even though it matches exactly
    val amended = Seq((0L, Array(0f, 10f, 0f)))
      .toDF("vec_id", "embedding")
    KnnGraphIndex.build(amended, overlay, k = 1, iters = 1)
    KnnGraphIndex.build(clustered, prod, k = 3, iters = 3)
    val query = Seq((1000L, Array(10f, 0f, 0f)))
      .toDF("vec_id", "embedding")
    val got = KnnGraphIndex.searchFederatedVectors(spark,
        Seq(overlay, prod), query, k = 3, beamWidth = 6, hops = 4,
        entryPoints = 2)
      .select("neighbor_id").as[Long].collect().toSet
    assert(!got.contains(0L)) // overlay owns id 0; its amended vector scores low
    assert(got.nonEmpty && got.forall(_ % 2 == 0))
    // retract the amendment: id 0 cedes back to production and, being
    // the query's exact match there, answers at rank 1
    KnnGraphIndex.delete(spark, overlay, Seq(0L).toDF("vec_id"),
      col("vec_id"))
    val after = KnnGraphIndex.searchFederatedVectors(spark,
        Seq(overlay, prod), query, k = 3, beamWidth = 6, hops = 4,
        entryPoints = 2)
      .select("rank", "neighbor_id").as[(Int, Long)].collect().toMap
    assert(after(1) === 0L)
  }

  test("recallProbe: deterministic sample, exact truth, perfect recall " +
      "on a converged graph, honest recall on a damaged one") {
    val path = dir()
    KnnGraphIndex.build(clustered, path, k = 3, iters = 3)
    val r1 = KnnGraphIndex.recallProbe(spark, path, sampleN = 4, k = 2,
        beamWidth = 6, entryPoints = 2)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(r1._1 === 4L)       // sample size honored
    assert(r1._2 === 8L)       // 4 queries × k truth rows
    assert(r1._3 === r1._2)    // converged graph: every truth row served
    assert(r1._4 === 4L)       // …so every query is covered
    assert(r1._5 === 1.0)
    // the probe is deterministic: same index → same numbers
    assert(KnnGraphIndex.recallProbe(spark, path, sampleN = 4, k = 2,
      beamWidth = 6, entryPoints = 2)
      .as[(Long, Long, Long, Long, Double)].head() === r1)
    // damage the graph (delete half of cluster A, compact scrubs the
    // dangling references, no rewire) — recall is measured against the
    // SURVIVORS' truth and must stay a valid ratio
    KnnGraphIndex.delete(spark, path,
      Seq(0L, 2L, 4L).toDF("vec_id"), col("vec_id"))
    KnnGraphIndex.compact(spark, path)
    val r2 = KnnGraphIndex.recallProbe(spark, path, sampleN = 4, k = 2,
        beamWidth = 6, entryPoints = 2)
      .as[(Long, Long, Long, Long, Double)].head()
    assert(r2._1 === 4L && r2._2 === 8L)
    assert(r2._3 <= r2._2 && r2._4 <= r2._1)
    assert(r2._5 === r2._3.toDouble / r2._2)
  }
}
